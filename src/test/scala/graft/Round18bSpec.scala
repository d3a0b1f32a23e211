package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-18 second-wave gates: text-generation metrics (q343 BLEU /
  * q344 ROUGE) against driver-side reference computations, the q345
  * epoch-folding periodogram's planted-period recovery, the q346
  * ANALYZE stats + the stats-driven join-strategy decision, and the
  * q347 gear-CDC chunking kernel (reference-walk parity, bounds,
  * reassembly, and the re-synchronization property that is CDC's entire
  * point).
  */
class Round18bSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // ---- q343: corpus BLEU vs a reference implementation ----------------

  /** Reference BLEU ledger: clipped matches and totals per n over
    * (cand, ref) token pairs — the textbook multiset-clip definition,
    * computed with driver-side Maps.
    */
  private def refBleu(pairs: Seq[(Seq[String], Seq[String])])
      : (Map[Int, (Long, Long)], Long, Long) = {
    def grams(t: Seq[String], n: Int): Map[Seq[String], Long] =
      t.sliding(n).filter(_.size == n).toSeq.groupBy(identity)
        .map { case (g, xs) => g -> xs.size.toLong }
    val perN = (1 to 4).map { n =>
      var clip = 0L
      var tot  = 0L
      for ((c, r) <- pairs) {
        val cg = grams(c, n)
        val rg = grams(r, n)
        tot += cg.values.sum
        clip += cg.map { case (g, cnt) =>
          math.min(cnt, rg.getOrElse(g, 0L)) }.sum
      }
      n -> (clip, tot)
    }.toMap
    (perN, pairs.map(_._1.size.toLong).sum, pairs.map(_._2.size.toLong).sum)
  }

  test("q343 corpus BLEU matches the reference ledger on a fixture") {
    import spark.implicits._
    // 60-token docs with heavy repetition: the 48-token candidate
    // carries 8 tokens past the 40-token reference, so clipping and
    // the n-gram ladder are all non-trivial
    val texts = Seq(7, 11, 13).map(m =>
      Seq.tabulate(60)(i => s"w${i % m}").mkString(" "))
    val docs = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = ops.Eval.corpusBleu(docs).collect().head
    val toks = texts.map(_.split(" ").toSeq)
    val (perN, cLen, rLen) =
      refBleu(toks.map(t => (t.take(48), t.take(40))))
    assert(got.getAs[Long]("n_pairs") == 3L)
    assert(got.getAs[Long]("cand_len") == cLen)
    assert(got.getAs[Long]("ref_len") == rLen)
    for (n <- 1 to 4) {
      assert(got.getAs[Long](s"clip_$n") == perN(n)._1, s"clip n=$n")
      assert(got.getAs[Long](s"tot_$n") == perN(n)._2, s"tot n=$n")
    }
    val p = (1 to 4).map(n => perN(n)._1.toDouble / perN(n)._2)
    assert(got.getAs[Double]("bp") == 1.0)
    assert(got.getAs[Double]("bleu4") ==
      math.sqrt(math.sqrt(p.product)))
  }

  test("q343 on the driver corpus: BP pinned to 1, precisions in (0,1]") {
    val row = SparkEntry.queries("q343_corpus_bleu")(spark, sf)
      .collect().head
    assert(row.getAs[Double]("bp") == 1.0) // cand_len >= ref_len fixture
    for (n <- 1 to 4) {
      val clip = row.getAs[Long](s"clip_$n")
      val tot  = row.getAs[Long](s"tot_$n")
      assert(clip > 0 && clip <= tot, s"n=$n: $clip/$tot")
    }
    val b = row.getAs[Double]("bleu4")
    assert(b > 0.0 && b <= 1.0, s"bleu4: $b")
  }

  // ---- q344: ROUGE vs a reference F1 ----------------------------------

  test("q344 ROUGE-1/2 matches reference F1 on a two-doc shard") {
    import spark.implicits._
    // one (lang, source) shard of two docs: pair = (doc 0 -> doc 1)
    val docs = Seq(
      ("en", "web", 0L, "the cat sat on the mat"),
      ("en", "web", 1L, "the cat lay on a mat today"))
      .toDF("lang", "source", "doc_id", "text")
    val got = ops.Eval.rougeN(docs).collect()
    assert(got.length == 1)
    val r = got.head
    def f1(c: Seq[String], ref: Seq[String], n: Int): Double = {
      def grams(t: Seq[String]) = t.sliding(n).filter(_.size == n).toSeq
        .groupBy(identity).map { case (g, xs) => g -> xs.size.toLong }
      val cg = grams(c); val rg = grams(ref)
      val ov = cg.map { case (g, x) =>
        math.min(x, rg.getOrElse(g, 0L)) }.sum
      if (ov == 0) 0.0
      else {
        val p  = ov.toDouble / cg.values.sum
        val rr = ov.toDouble / rg.values.sum
        (2.0 * p * rr) / (p + rr)
      }
    }
    val c = "the cat sat on the mat".split(" ").toSeq
    val rf = "the cat lay on a mat today".split(" ").toSeq
    assert(r.getAs[Long]("n_pairs") == 1L)
    assert(r.getAs[Long]("r1_f1_e9") ==
      math.floor(f1(c, rf, 1) * 1e9).toLong)
    assert(r.getAs[Long]("r2_f1_e9") ==
      math.floor(f1(c, rf, 2) * 1e9).toLong)
  }

  test("q344 on the driver corpus: macro F1 interior, pairs per lang") {
    val rows = SparkEntry.queries("q344_rouge_n")(spark, sf).collect()
    assert(rows.length == 5) // de en es fr zh
    for (r <- rows) {
      val f1 = r.getAs[Double]("r1_macro_f1")
      val f2 = r.getAs[Double]("r2_macro_f1")
      assert(f1 > 0.0 && f1 < 1.0 && f2 >= 0.0 && f2 < f1,
        s"${r.getAs[String]("lang")}: r1=$f1 r2=$f2")
      assert(r.getAs[Long]("n_pairs") > 0)
    }
  }

  // ---- q352: ROUGE-L ----------------------------------------------------

  /** Independent reference LCS — full (n+1)×(m+1) table, no row reuse. */
  private def refLcs(a: Seq[String], b: Seq[String]): Int = {
    val dp = Array.ofDim[Int](a.size + 1, b.size + 1)
    for (i <- 1 to a.size; j <- 1 to b.size)
      dp(i)(j) =
        if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
        else math.max(dp(i - 1)(j), dp(i)(j - 1))
    dp(a.size)(b.size)
  }

  test("lcs_len kernel == reference DP over every driver pair") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf)
    val pairs = docs
      .select($"lang", $"source", $"doc_id", split($"text", " ").as("tk"))
      .withColumn("rtk", lead($"tk", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"lang", $"source").orderBy($"doc_id")))
      .filter($"rtk".isNotNull)
      .select($"doc_id", $"tk", $"rtk",
        functions.LcsExprs.lcsLen(spark, $"tk", $"rtk").as("lcs"))
      .as[(Long, Seq[String], Seq[String], Int)]
      .collect()
    assert(pairs.nonEmpty)
    for ((id, a, b, got) <- pairs) {
      val want = refLcs(a, b)
      assert(got == want, s"doc $id: kernel $got vs reference $want")
      assert(got <= math.min(a.size, b.size), s"doc $id bound")
    }
    // edge shapes the corpus can't produce
    assert(refLcs(Nil, Seq("a")) == 0)
    val e = Seq(("x", Seq.empty[String], Seq("a", "b")))
      .toDF("k", "a", "b")
      .select(functions.LcsExprs.lcsLen(spark, col("a"), col("b")))
      .head().getInt(0)
    assert(e == 0)
  }

  test("q352 ROUGE-L: macro interior and dominated by ROUGE-1") {
    val rl = SparkEntry.queries("q352_rouge_l")(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    val r1 = SparkEntry.queries("q344_rouge_n")(spark, sf).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    assert(rl.keySet == r1.keySet && rl.size == 5)
    for ((lang, r) <- rl) {
      val fL = r.getAs[Double]("rl_macro_f1")
      assert(fL > 0.0 && fL < 1.0, s"$lang: $fL")
      assert(r.getAs[Long]("n_pairs") == r1(lang).getAs[Long]("n_pairs"))
      // LCS <= unigram clipped overlap and F is monotone in (P, R), so
      // ROUGE-L macro F1 <= ROUGE-1 macro F1 (+1e-9 floor slack)
      assert(fL <= r1(lang).getAs[Double]("r1_macro_f1") + 1e-9,
        s"$lang: F_L $fL vs F_1 ${r1(lang).getAs[Double]("r1_macro_f1")}")
    }
  }

  // ---- q345: epoch folding recovers the planted sin period ------------

  test("q345 epoch folding recovers the generator's planted sin period") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // same fixture as the q284 gate: density_mode=sin, period=8000
    // ticks (main.py:33-35) = period 16 in 500-tick buckets
    val spec = gen.GenQueries.demoSpec(40000L).copy(
      patterns = gen.ParityStream.patterns(
        gen.PatternSpec(8, 10, 6, gen.Rng.IntervalDist.Uniform,
          5, 3, 9, 137L)))
    val buckets = gen.ParityStream.dataset(spark, spec)
      .groupBy(expr("ts DIV 500").as("h")).agg(count(lit(1)).as("x"))
    val top = ops.Events.foldTopPeriods(buckets, maxP = 48, topK = 3)
      .select("period_hours").as[Long].collect().toList
    // per-df normalization: the FUNDAMENTAL must beat its harmonics
    assert(top.head == 16L, s"top period: $top")
  }

  // ---- q346: ANALYZE stats + the join decision they feed --------------

  test("q346 stats: per-column ledger is consistent and exact") {
    val rows = SparkEntry.queries("q346_table_stats")(spark, sf)
      .collect().map(r => r.getAs[String]("col_name") -> r).toMap
    assert(rows.size == 11)
    val n = rows("l_orderkey").getAs[Long]("n_rows")
    assert(n > 0 && rows.values.forall(_.getAs[Long]("n_rows") == n))
    assert(rows.values.forall(_.getAs[Long]("n_null") == 0L))
    assert(rows("l_linenumber").getAs[Long]("ndv") == 7L)
    assert(rows("l_returnflag").getAs[Long]("ndv") == 3L)
    assert(rows("l_returnflag").getAs[String]("min_v") == "A")
    // ndv never exceeds non-null rows; byte mass consistent
    for ((c, r) <- rows) {
      assert(r.getAs[Long]("ndv") <= n, c)
      assert(r.getAs[Long]("est_bytes") ==
        r.getAs[Long]("sum_len") + 16L * n, c)
    }
  }

  test("statsJoin: measured stats pick broadcast vs shuffle, not size guesses") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    SparkTestSession.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = Tables.lineitem(spark, sf)
      val sup = Tables.supplier(spark, sf)
        .withColumnRenamed("s_suppkey", "l_suppkey")
      def hasBhj(df: org.apache.spark.sql.DataFrame): Boolean = {
        val plan = df.queryExecution.executedPlan
        val walked = plan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }
        walked.collectFirst { case b: BroadcastHashJoinExec => b }
          .isDefined ||
          walked.collectFirst { case e: BroadcastExchangeExec => e }
            .isDefined
      }
      // supplier's measured mass is far under the budget -> broadcast
      val small = ops.Analyze.statsJoin(li, sup, Seq("l_suppkey"))
      assert(hasBhj(small), "stats-advised broadcast join missing")
      // a 1-byte budget says nothing fits -> planner keeps a shuffle
      // join even though the table is tiny
      val big = ops.Analyze.statsJoin(li, sup, Seq("l_suppkey"), budget = 1L)
      assert(!hasBhj(big), "un-advised join must not broadcast")
      // the PRODUCTION path decides from the persisted artifact (one
      // metadata read, no ANALYZE pass) and reaches the same plan —
      // over part, whose stats store q04 declares
      val stored = ops.Analyze.statsJoinStored(spark, sf,
        li.withColumnRenamed("l_partkey", "p_partkey"), "part",
        Seq("p_partkey"))
      assert(hasBhj(stored), "stored-stats broadcast join missing")
      // store ≡ recompute, row for row (the q260 discipline; the
      // sf0.01 hash gate is q351 sharing q346's oracle verbatim)
      val direct = ops.Analyze.tableStats(li)
      val viaStore = spark.read.parquet(
        s"${ops.Analyze.statsStore(spark, sf, "lineitem")}/stats")
      assert(viaStore.except(direct).isEmpty &&
        direct.except(viaStore).isEmpty)
    }
  }

  // ---- q347: gear-CDC chunking kernel ----------------------------------

  /** Independent reference walk of the gear-CDC cut rule + FNV chunk
    * hashes, straight off the Scaladoc pseudocode.
    */
  private def refChunks(
      text: String, minSz: Int, mask: Long, maxSz: Int)
      : Seq[(Long, Int)] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def fnv(from: Int, until: Int): Long = {
      var h = 0xcbf29ce484222325L
      for (i <- from until until) {
        h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L
      }
      h
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    var start = 0; var h = 0L
    for (i <- bytes.indices) {
      h = (h << 1) + functions.GearCdc.GEAR(bytes(i) & 0xff)
      val len = i - start + 1
      if ((len >= minSz && (h & mask) == 0L) || len == maxSz) {
        out += ((fnv(start, i + 1), len)); start = i + 1; h = 0L
      }
    }
    if (start < bytes.length)
      out += ((fnv(start, bytes.length), bytes.length - start))
    out.toSeq
  }

  test("gear_chunks kernel == reference walk on the driver corpus") {
    import spark.implicits._
    val texts = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val viaKernel = Tables.documents(spark, sf)
      .select($"doc_id",
        functions.GearChunks.gearChunks(spark, $"text", 24, 0x3fL, 192)
          .as("c"))
      .collect()
      .map { row =>
        row.getLong(0) -> row.getSeq[org.apache.spark.sql.Row](1)
          .map(r => (r.getLong(0), r.getInt(1))).toSeq
      }.toMap
    assert(texts.nonEmpty)
    for ((id, t) <- texts) {
      val ref = refChunks(t, 24, 0x3fL, 192)
      assert(viaKernel(id) == ref, s"doc $id")
      // bounds: every chunk <= max, every non-tail chunk >= min
      assert(ref.forall(_._2 <= 192), s"doc $id max bound")
      assert(ref.dropRight(1).forall(_._2 >= 24), s"doc $id min bound")
      // reassembly: lengths partition the byte string
      assert(ref.map(_._2.toLong).sum ==
        t.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong,
        s"doc $id reassembly")
    }
  }

  // ---- q349: Gorilla codec ---------------------------------------------

  test("gorilla codec: roundtrip identity on adversarial fixtures") {
    def rt(ts: Seq[Long], vs: Seq[Double]): Unit = {
      val enc = functions.GorillaCodec.encode(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(ts.toArray),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(vs.toArray))
      val dec = functions.GorillaCodec.decode(enc)
      val gotTs = dec.getArray(0).toLongArray().toSeq
      val gotVs = dec.getArray(1).toDoubleArray().toSeq
      assert(gotTs == ts, s"ts roundtrip: $ts")
      assert(gotVs.map(java.lang.Double.doubleToRawLongBits) ==
        vs.map(java.lang.Double.doubleToRawLongBits),
        s"vs roundtrip (bit compare): $vs")
    }
    rt(Seq.empty, Seq.empty)
    rt(Seq(42L), Seq(3.14))
    // regular cadence, constant value: the 1-bit/point sweet spot
    rt((0 until 200).map(i => 1000L + 60L * i), Seq.fill(200)(7.0))
    // irregular gaps crossing every delta-of-delta class incl. 64-bit
    rt(Seq(0L, 10L, 20L, 100L, 90L, 5000L, 5001L, 1L << 40, 12L),
      Seq(1.0, -1.0, 1.5, 0.0, -0.0, 1e300, -1e-300,
        Double.NaN, Double.PositiveInfinity))
    // slowly-moving doubles: window reuse branch
    rt((0 until 100).map(_.toLong),
      (0 until 100).map(i => 100.0 + i * 0.125))
    // sign flips force fresh windows
    rt((0 until 64).map(i => i * 3L),
      (0 until 64).map(i => if (i % 2 == 0) 1e9 else -1e-9))
  }

  test("gorilla + gear kernels: randomized roundtrip / reference parity") {
    // deterministic LCG so the property run is reproducible
    var seed = 0x2545f4914f6cdd1dL
    def next(): Long = { seed = seed * 6364136223846793005L + 1442695040888963407L; seed }
    def nextInt(bound: Int): Int = math.floorMod(next(), bound.toLong).toInt
    for (trial <- 0 until 200) {
      val n = nextInt(120)
      // timestamps: mostly-regular cadence with occasional wild jumps
      var t = next() % (1L << 40)
      val ts = (0 until n).map { _ =>
        t += (if (nextInt(10) == 0) next() % (1L << 35) else 60L + nextInt(5))
        t
      }
      // values: runs of constants, small drifts, and raw bit noise
      var bits = next()
      val vs = (0 until n).map { _ =>
        nextInt(4) match {
          case 0 => // hold
          case 1 => bits ^= (next() & 0xffL) << nextInt(52)
          case _ => bits = next()
        }
        java.lang.Double.longBitsToDouble(bits)
      }
      val enc = functions.GorillaCodec.encode(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(ts.toArray),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(vs.toArray))
      val dec = functions.GorillaCodec.decode(enc)
      assert(dec.getArray(0).toLongArray().toSeq == ts, s"trial $trial ts")
      assert(dec.getArray(1).toDoubleArray().toSeq
        .map(java.lang.Double.doubleToRawLongBits) ==
        vs.map(java.lang.Double.doubleToRawLongBits), s"trial $trial vs")
      // gear CDC: random byte-ish text, kernel == reference walk
      val text = (0 until nextInt(600)).map(_ =>
        (32 + nextInt(95)).toChar).mkString
      val viaKernel = {
        val arr = functions.GearCdc.chunks(
          org.apache.spark.unsafe.types.UTF8String.fromString(text),
          24, 0x3fL, 192)
        (0 until arr.numElements()).map { i =>
          val r = arr.getStruct(i, 2)
          (r.getLong(0), r.getInt(1))
        }
      }
      assert(viaKernel == refChunks(text, 24, 0x3fL, 192), s"trial $trial cdc")
    }
  }

  test("q349 ledger: roundtrip proof is zero, hourly arm compresses hard") {
    val rows = SparkEntry.queries("q349_gorilla_codec")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("n_roundtrip_fail") == 0L,
        s"${r.getAs[String]("event_type")}: roundtrip failures")
      assert(r.getAs[Long]("n_points") > 0)
    }
    // the TSDB-shaped arm is where the codec earns its keep: at least
    // 4x on the regular-cadence hourly count series
    val hourly = rows.filter(_.getAs[String]("kind") == "hourly_counts")
    assert(hourly.nonEmpty)
    for (r <- hourly)
      assert(r.getAs[Long]("enc_bytes") * 4 <= r.getAs[Long]("raw_bytes"),
        s"hourly ${r.getAs[String]("event_type")}: " +
          s"${r.getAs[Long]("enc_bytes")} vs ${r.getAs[Long]("raw_bytes")}")
  }

  // ---- q350: join-cardinality estimation --------------------------------

  test("q350: ground truth is exact; both rates estimate within bounds") {
    val s = spark
    import s.implicits._
    val rows = SparkEntry.queries("q350_join_cardinality")(spark, sf)
      .collect()
    assert(rows.length == 4)
    // FK arm's actual == the real join size (the histogram product IS
    // the join cardinality)
    val fk = rows.filter(
      _.getAs[String]("join_name") == "fk_orders_lineitem")
    val realFk = Tables.lineitem(spark, sf).join(
      Tables.orders(spark, sf),
      $"l_orderkey" === $"o_orderkey").count()
    assert(fk.forall(_.getAs[Long]("actual_rows") == realFk))
    // estimates are honest: within 20% at the 10% rate on both arms
    for (r <- rows if r.getAs[Long]("p_num") == 26L)
      assert(math.abs(r.getAs[Long]("err_ppm")) < 200000L,
        s"${r.getAs[String]("join_name")}: ${r.getAs[Long]("err_ppm")}")
  }

  // ---- q353: compressed-series store ------------------------------------

  test("q353: pruned compressed read == raw scan; erase drops the user") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // registered range read ≡ the raw-events aggregate (the sf0.01 hash
    // gate is the DuckDB oracle; this is the sf0.001 spark-side twin)
    val got = SparkEntry.queries("q353_ts_range_read")(spark, sf)
    val root = ops.Events.tsStore(spark, sf)
    val b = spark.read.parquet(s"$root/series")
      .agg(min($"ts_min"), max($"ts_max")).head()
    val third = (b.getLong(1) - b.getLong(0)) / 3
    val (lo, hi) = (b.getLong(0) + third, b.getLong(0) + 2 * third)
    val want = Tables.events(spark, sf)
      .select($"user_id", $"event_type", expr("unix_micros(ts)").as("tus"),
        $"value")
      .where($"tus" >= lo && $"tus" < hi)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_points"),
        sum(expr("CAST(ROUND(value * 100) AS BIGINT)")).as("cents"),
        countDistinct($"user_id").as("n_users"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      "compressed range read drifted from the raw scan")
    // pruning is real: a narrow range decodes fewer series than exist
    val total = spark.read.parquet(s"$root/series").count()
    val narrow = spark.read.parquet(s"$root/series")
      .where($"ts_max" >= lo && $"ts_min" < lo + 1000L).count()
    assert(narrow < total, "bounds never prune anything")
    // erase: physical row drop, read path forgets the users
    val erased = ops.Events.erasedTsStore(spark, sf)
    val g = spark.read.parquet(s"$erased/series")
    assert(g.where($"user_id" % 19 === 3).count() == 0)
    val afterRead = ops.Events.tsRangeRead(spark, erased, lo, hi)
    assert(afterRead.where($"user_id" % 19 === 3).count() == 0)
    // erase ≡ rebuild-without, row for row
    val expect = ops.Events.tsStore(spark, sf) // rebuilt base (vacuumed)
    val direct = spark.read.parquet(s"$expect/series")
      .where($"user_id" % 19 =!= 3)
    assert(g.except(direct).isEmpty && direct.except(g).isEmpty)
  }

  // ---- q354: incremental ingest into the compressed store ---------------

  test("q354: decode-merge-encode ingest == from-scratch build, rows and blobs") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val merged = spark.read.parquet(
      s"${ops.Events.mergedTsStore(spark, sf)}/series")
    val full = spark.read.parquet(
      s"${ops.Events.tsStore(spark, sf)}/series")
      .withColumn("blk", expr("ts_min DIV 86400000000"))
      .select(merged.columns.map(col): _*)
    // Tie-normalized identity (r18 advice): blob-BYTE identity with the
    // from-scratch build is data-dependent — decoded base points lose
    // their event_ids (sentinel -1), so a µs tie between two BASE
    // points (not just cross-batch) can re-encode in value order. The
    // merge CONTRACT is the decoded point multiset per block, so
    // compare exactly that: (keys, bounds, n, sorted (ts, value)
    // pairs) — an assertion that holds for any data, not just a
    // tie-free driver table.
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("dec", graft.functions.Gorilla.decode(spark, col("bin")))
      .select($"user_id", $"event_type", $"blk", $"ts_min", $"ts_max",
        $"n", expr("sort_array(arrays_zip(dec.ts, dec.vs))").as("pts"))
    assert(norm(merged).except(norm(full)).isEmpty &&
      norm(full).except(norm(merged)).isEmpty,
      "merged store drifted from the from-scratch build (decoded points)")
    // the merge actually carried base blocks over untouched — and for
    // THOSE rows byte identity IS guaranteed (never decoded, never
    // re-encoded), so assert it raw
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_type",
        expr("unix_micros(ts)").as("tus"), $"event_id")
    val touchedKeys = ev.where($"event_id" % 10 >= 8)
      .select($"user_id", $"event_type",
        expr("tus DIV 86400000000").as("blk")).distinct()
    val untouchedMerged = merged.join(touchedKeys,
      Seq("user_id", "event_type", "blk"), "left_anti")
    val untouchedFull = full.join(touchedKeys,
      Seq("user_id", "event_type", "blk"), "left_anti")
    assert(untouchedMerged.except(untouchedFull).isEmpty &&
      untouchedFull.except(untouchedMerged).isEmpty,
      "untouched blocks must carry over byte-identical")
    val touched = touchedKeys.count()
    assert(touched < merged.count(),
      "every block was touched — the untouched carry-over is untested")
  }

  // ---- q355: week-grain compaction ---------------------------------------

  test("q355: compaction preserves the readout; right-sized weeks byte-carry") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val mergedRoot = ops.Events.mergedTsStore(spark, sf)
    val compactRoot = ops.Events.compactedTsStore(spark, sf)
    val before = spark.read.parquet(s"$mergedRoot/series")
    val after = spark.read.parquet(s"$compactRoot/series")
    // compaction actually collapsed fragmented weeks...
    assert(after.count() < before.count(),
      "no week held more than one day block — compaction untested")
    // ...while conserving every point
    assert(after.agg(sum($"n")).head().getLong(0) ==
      before.agg(sum($"n")).head().getLong(0))
    // single-block weeks carried over byte-for-byte: every compacted
    // row for such a week IS a row of the merged store (bin included)
    val wk = before.withColumn("wk", expr("blk DIV 7"))
    val singleKeys = wk.groupBy($"user_id", $"event_type", $"wk")
      .agg(count(lit(1)).as("nb")).where($"nb" === 1)
      .select($"user_id", $"event_type", $"wk")
    val carried = after.withColumn("wk", expr("blk DIV 7"))
      .join(singleKeys, Seq("user_id", "event_type", "wk"))
      .drop("wk")
    assert(carried.except(before).isEmpty,
      "a right-sized week was rewritten instead of byte-carried")
    // the compacted readout ≡ the merged readout (same derived range)
    val a = SparkEntry.queries("q355_ts_compaction")(spark, sf)
    val b = SparkEntry.queries("q354_ts_incremental")(spark, sf)
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  // ---- q348: CDC chunk store + erasure ---------------------------------

  /** Staged corpus with a PLANTED byte-grain duplicate: doc 5's text is
    * replaced by doc 2's, so their gear chunks coincide exactly. Doc 2
    * is in the erased set (2 % 17 == 2), doc 5 survives — erasing must
    * re-elect every shared chunk winner from 2 to 5. (The driver's
    * synthetic docs share almost no ≥24-byte span, so orphan
    * re-election needs the plant.)
    */
  private def stageCdcCorpus(): String = {
    val dir = "target/r18b_cdc_stage"
    val dest = java.nio.file.Paths.get(dir, "documents.parquet")
    if (!java.nio.file.Files.exists(dest)) {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(spark, sf)
      val t2 = docs.where(col("doc_id") === 2)
        .select("text").head().getString(0)
      val staged = docs.withColumn("text",
        when(col("doc_id") === 5, lit(t2)).otherwise(col("text")))
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(dir))
      val tmp = s"$dir/documents_tmp"
      staged.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(tmp))) { l =>
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      }
      java.nio.file.Files.move(part, dest)
      streaming.Streams.deleteStaged(java.nio.file.Paths.get(tmp))
    }
    dir
  }

  test("q348 ledger: batch conservation; the planted dup saves bytes") {
    val s = spark
    import s.implicits._
    val d = stageCdcCorpus()
    val rows = SparkEntry.queries("q348_cdc_chunk_store")(spark, d)
      .collect()
    assert(rows.map(_.getAs[Long]("batch")).toSet == Set(0L, 1L))
    val root = ops.Dedup.chunkStore(spark, d)
    val stored = spark.read.parquet(s"$root/chunks").count()
    assert(rows.map(_.getAs[Long]("n_new_chunks")).sum == stored)
    for (r <- rows) {
      assert(r.getAs[Long]("saved_bytes") >= 0L)
      assert(r.getAs[Long]("chunk_bytes") ==
        r.getAs[Long]("stored_bytes") + r.getAs[Long]("saved_bytes"))
      assert(r.getAs[Long]("n_new_chunks") <= r.getAs[Long]("n_distinct"))
    }
    // the planted duplicate's whole chunk mass is saved (batch 0:
    // docs 2 and 5 share every chunk)
    assert(rows.find(_.getAs[Long]("batch") == 0L).get
      .getAs[Long]("saved_bytes") > 0L)
  }

  test("q348 erase == rebuild-without; planted orphans re-elect to doc 5") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val d = stageCdcCorpus()
    val base = ops.Dedup.chunkStore(spark, d)
    val baseStore = spark.read.parquet(s"$base/chunks")
      .localCheckpoint() // the erase vacuums the base payload below
    // the plant holds: doc 2 (erased) wins every chunk it shares with 5
    val orphans = baseStore.where($"w_doc" === 2)
    assert(orphans.count() > 0, "planted winners missing")
    val erased = ops.Dedup.erasedChunkStore(spark, d)
    val got = spark.read.parquet(s"$erased/chunks")
      .localCheckpoint() // survives the sf-store rebuild below
    // physical forgetting: no winner row held by an erased doc
    assert(got.where($"w_doc" % 17 === 2).count() == 0)
    // every orphaned hash doc 5 shares re-elects to doc 5
    val reElected = got.join(orphans.select("ch"), Seq("ch"), "left_semi")
    assert(reElected.count() > 0, "expected re-elected chunk winners")
    assert(reElected.where($"w_doc" =!= 5).count() == 0,
      "shared chunks must re-elect to the planted survivor")
    // erase == rebuild-without: global min-election over corpus \ E
    // (provably ≡ the two-phase build because batch leads the key)
    val docs = Tables.documents(spark, d)
      .select($"doc_id", $"text").where($"doc_id" % 17 =!= 2)
    val expect = ops.Dedup.electChunkWinners(
      ops.Dedup.docChunks(spark, docs.where($"doc_id" % 10 < 8), 0)
        .unionByName(
          ops.Dedup.docChunks(spark, docs.where($"doc_id" % 10 >= 8), 1)))
    assert(got.except(expect).isEmpty && expect.except(got).isEmpty,
      "erased store drifted from rebuild-without")
  }

  test("q347: CDC re-synchronizes after a prefix edit; fixed-width does not") {
    val rows = SparkEntry.queries("q347_cdc_chunk_dedup")(spark, sf)
      .collect()
    assert(rows.length == 5) // one per lang
    for (r <- rows) {
      val cdc = r.getAs[Double]("cdc_resync_mean")
      val fix = r.getAs[Double]("fixed_resync_mean")
      assert(cdc > fix + 0.2,
        s"${r.getAs[String]("lang")}: cdc=$cdc fixed=$fix")
      assert(r.getAs[Long]("n_chunks") >=
        r.getAs[Long]("n_distinct_chunks"))
      assert(r.getAs[Long]("chunk_bytes") > 0)
    }
  }
}
