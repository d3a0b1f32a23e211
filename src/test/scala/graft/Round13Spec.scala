package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-13 gates. The headline is the model-evaluation module
  * (`ops.Eval`): every statistic the driver's DuckDB oracle hash-gates
  * is ALSO re-derived here by an independent driver-side reference
  * (brute-force pairwise AUC/U, textbook PAVA for the isotonic minimax,
  * subset-enumeration Shapley, a direct log-rank risk-set walk), so a
  * consistent-but-wrong closed form in both engines cannot slip past
  * the hash gate. Plus the r12-advice regression gates: the store
  * completion marker self-heals from a partial build, point lookups
  * pmod negative ids, and streamPatternMatch declines un-timed
  * trailing-greedy patterns.
  */
class Round13Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // ---- independent references for the oracle-gated closed forms ----

  /** Brute-force AUC: P(score⁺ > score⁻) + ½P(tie), all pairs. */
  private def aucRef(pos: Seq[Long], neg: Seq[Long]): Double = {
    var num = 0.0
    for (p <- pos; n <- neg)
      num += (if (p > n) 1.0 else if (p == n) 0.5 else 0.0)
    num / (pos.length.toDouble * neg.length.toDouble)
  }

  test("q240 AUC equals the brute-force pairwise probability per hour") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Tables.events(spark, sf)
      .select(expr("(unix_micros(ts) DIV 3600000000) % 24").as("hr"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("c"),
        ($"event_type" === "purchase").as("p"))
      .as[(Long, Long, Boolean)].collect()
    val got = SparkEntry.queries("q240_roc_auc")(spark, sf)
      .select($"hr", $"auc").as[(Long, Double)].collect().toMap
    assert(got.size == 24)
    for ((hr, grp) <- rows.groupBy(_._1)) {
      val pos = grp.filter(_._3).map(_._2).toSeq
      val neg = grp.filterNot(_._3).map(_._2).toSeq
      val want = BigDecimal(aucRef(pos, neg))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got(hr) - want) < 1e-9, s"hr=$hr")
    }
  }

  test("q242 U statistic equals brute-force pairwise counting") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Tables.events(spark, sf)
      .select($"event_type",
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("c"))
      .as[(String, Long)].collect()
    val byType = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSeq)
    val got = SparkEntry.queries("q242_mann_whitney")(spark, sf)
      .select($"ta", $"tb", $"u2").as[(String, String, Long)]
      .collect()
    assert(got.length == 10)
    got.foreach { case (ta, tb, u2) =>
      // 2U_a = 2·#{a>b pairs} + #{ties}
      var twoU = 0L
      for (a <- byType(ta); b <- byType(tb))
        twoU += (if (a > b) 2L else if (a == b) 1L else 0L)
      assert(u2 == twoU, s"($ta,$tb)")
    }
  }

  test("q247 isotonic fit == textbook PAVA, monotone, mean-preserving") {
    import spark.implicits._
    val out = SparkEntry.queries("q247_isotonic_calibration")(spark, sf)
      .select($"b", $"n", $"k", $"iso_rate")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    // monotone nondecreasing (up to the 1e-6 rounding the output uses)
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._4 >= a._4 - 1e-9, s"fit not monotone at bin ${b._1}")
      case _ =>
    }
    // textbook PAVA on the same (n, k) bins, exact rational pools
    case class Pool(var k: Long, var n: Long)
    val pools = scala.collection.mutable.ArrayBuffer.empty[(Pool, Int)]
    out.foreach { case (_, n, k, _) =>
      pools += ((Pool(k, n), 1))
      while (pools.length >= 2 && {
          val (b, _) = pools(pools.length - 1)
          val (a, _) = pools(pools.length - 2)
          // a.rate >= b.rate ⟺ a.k·b.n >= b.k·a.n (violator)
          a.k * b.n >= b.k * a.n
        }) {
        val (b, cb) = pools.remove(pools.length - 1)
        val (a, ca) = pools(pools.length - 1)
        a.k += b.k; a.n += b.n
        pools(pools.length - 1) = (a, ca + cb)
      }
    }
    val pava = pools.flatMap { case (p, c) =>
      Seq.fill(c)(p.k.toDouble / p.n.toDouble)
    }
    assert(pava.length == out.length)
    out.zip(pava).foreach { case ((b, _, _, iso), want) =>
      assert(math.abs(iso - want) < 2e-6,
        s"bin $b: minimax $iso vs PAVA $want")
    }
    // mean preservation: Σ iso·n == Σ k (PAVA preserves block means)
    val fitMass = out.zip(pava).map { case ((_, n, _, _), r) => r * n }.sum
    val kMass = out.map(_._3).sum.toDouble
    assert(math.abs(fitMass - kMass) < 1e-6 * kMass + 1e-6)
  }

  test("isotonicFit ≡ PAVA on randomized band tables (Spark path)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1337)
    for (trial <- 1 to 8) {
      val nBins = 5 + rnd.nextInt(40)
      val bins = (0 until nBins).map { b =>
        val n = 1L + rnd.nextInt(50)
        (b.toLong, n, rnd.nextLong(n + 1).max(0L))
      }
      val got = ops.Eval
        .isotonicFit(bins.toDF("b", "n", "k"))
        .select($"b", $"iso_rate").as[(Long, Double)]
        .collect().sortBy(_._1).map(_._2)
      // textbook sequential PAVA with exact rational pools
      case class Pool(var k: Long, var n: Long, var c: Int)
      val pools = scala.collection.mutable.ArrayBuffer.empty[Pool]
      bins.foreach { case (_, n, k) =>
        pools += Pool(k, n, 1)
        while (pools.length >= 2 && {
            val b = pools(pools.length - 1)
            val a = pools(pools.length - 2)
            a.k * b.n >= b.k * a.n
          }) {
          val b = pools.remove(pools.length - 1)
          val a = pools(pools.length - 1)
          a.k += b.k; a.n += b.n; a.c += b.c
        }
      }
      val want = pools.flatMap(p =>
        Seq.fill(p.c)(p.k.toDouble / p.n.toDouble))
      assert(got.length == want.length, s"trial $trial")
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) < 2e-6, s"trial $trial: $g vs $w")
      }
    }
  }

  test("q244 Shapley == subset-enumeration reference; efficiency axiom") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    val fp = ev.filter($"event_type" === "purchase")
      .groupBy($"user_id").agg(min(unix_micros($"ts")).as("pus"))
    val masks = ev.join(fp, Seq("user_id"), "left")
      .filter($"event_type" =!= "purchase" &&
        ($"pus".isNull || unix_micros($"ts") < $"pus"))
      .select($"user_id",
        expr("CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 " +
          "WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END").as("bit"))
      .distinct().groupBy($"user_id").agg(sum($"bit").as("mask"))
    val conv = ev.select($"user_id").distinct()
      .join(masks, Seq("user_id"), "left")
      .join(fp.select($"user_id", lit(1L).as("cv")), Seq("user_id"),
        "left")
      .select(coalesce($"mask", lit(0L)).as("t"),
        coalesce($"cv", lit(0L)).as("cv"))
      .groupBy($"t").agg(sum($"cv").as("conv"))
      .as[(Long, Long)].collect().toMap
    def v(s: Long): Long =
      conv.collect { case (t, c) if (t & s) == t => c }.sum
    val fact = Array(1L, 1L, 2L, 6L) // 0!..3!
    val want = (0 until 4).map { i =>
      val bit = 1L << i
      var phi24 = 0L
      for (s <- 0L until 16L if (s & bit) == 0L) {
        val sz = java.lang.Long.bitCount(s)
        phi24 += fact(sz) * fact(3 - sz) * (v(s | bit) - v(s))
      }
      phi24
    }
    val got = SparkEntry.queries("q244_shapley_attribution")(spark, sf)
      .select($"channel", $"phi24").as[(String, Long)].collect()
      .sortBy(_._1).map(_._2)
    assert(got.toSeq == want,
      s"shapley ${got.toSeq} vs reference $want")
    // efficiency: Σφ = v(grand) − v(∅), scaled by 4! = 24
    assert(got.sum == 24L * (v(15L) - v(0L)))
  }

  test("q245 log-rank equals a direct risk-set walk") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val perUser = Tables.events(spark, sf)
      .groupBy($"user_id")
      .agg(min(unix_micros($"ts")).as("fus"),
        min(when($"event_type" === "purchase", unix_micros($"ts")))
          .as("pus"),
        max(unix_micros($"ts")).as("lus"))
      .select(($"user_id" % 2).as("g"),
        expr("(coalesce(pus, lus) - fus) DIV 1000000").as("dur"),
        $"pus".isNotNull.as("death"))
      .as[(Long, Long, Boolean)].collect()
    val deathTimes = perUser.filter(_._3).map(_._2).distinct.sorted
    var oe = 0L
    var vv = 0L
    deathTimes.foreach { tau =>
      val atRisk = perUser.filter(_._2 >= tau)
      val n1 = atRisk.count(_._1 == 1L).toDouble
      val n0 = atRisk.count(_._1 == 0L).toDouble
      val d1 = perUser.count(r => r._1 == 1L && r._3 && r._2 == tau)
        .toDouble
      val d0 = perUser.count(r => r._1 == 0L && r._3 && r._2 == tau)
        .toDouble
      val n = n1 + n0
      val dd = d1 + d0
      oe += math.round((d1 - dd * n1 / n) * 1e6)
      if (n > 1)
        vv += math.round(dd * n1 * n0 * (n - dd) / (n * n * (n - 1))
          * 1e6)
    }
    val row = SparkEntry.queries("q245_logrank_test")(spark, sf)
      .select($"oe_micro", $"var_micro").as[(Long, Long)].head()
    assert(row == ((oe, vv)), s"got $row want ($oe, $vv)")
  }

  test("q243 BH step-up decision is internally consistent") {
    import spark.implicits._
    val out = SparkEntry.queries("q243_bh_fdr")(spark, sf)
      .select($"p_num", $"k", $"rejected").as[(Long, Long, Boolean)]
      .collect().sortBy(_._2)
    // p is nondecreasing along k (the step-up order)
    out.sliding(2).foreach {
      case Array(a, b) => assert(a._1 <= b._1)
      case _ =>
    }
    val kmax = out.filter(r => 20L * r._1 <= 65L * r._2)
      .map(_._2).maxOption.getOrElse(0L)
    out.foreach { case (_, k, rej) =>
      assert(rej == (k <= kmax),
        "BH must reject exactly the k̂ smallest p-values")
    }
  }

  test("q248 weighted quantiles satisfy the defining inequalities") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val hist = Tables.lineitem(spark, sf)
      .select($"l_returnflag".as("flag"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("c"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").as("w"))
      .as[(String, Long, Long)].collect()
    val got = SparkEntry.queries("q248_weighted_quantiles")(spark, sf)
      .select($"flag", $"wp50", $"wp90").as[(String, Long, Long)]
      .collect()
    got.foreach { case (flag, wp50, wp90) =>
      val grp = hist.filter(_._1 == flag)
      val tw = grp.map(_._3).sum
      def cumAt(c: Long) = grp.filter(_._2 <= c).map(_._3).sum
      for ((p, wq) <- Seq((50L, wp50), (90L, wp90))) {
        assert(cumAt(wq) * 100 >= p * tw, s"$flag p$p too low")
        assert(cumAt(wq - 1) * 100 < p * tw, s"$flag p$p not minimal")
      }
    }
  }

  test("q250 DiD point estimate equals the four cell means") {
    import spark.implicits._
    val r = SparkEntry.queries("q250_diff_in_diff")(spark, sf)
      .select($"m_treat_post", $"m_treat_pre", $"m_ctrl_post",
        $"m_ctrl_pre", $"did_cents")
      .as[(Double, Double, Double, Double, Double)].head()
    val did = (r._1 - r._2) - (r._3 - r._4)
    // rounded cell means recompose to the DiD up to 4 rounding grains
    assert(math.abs(did - r._5) < 4e-6)
  }

  test("q246 PSI is nonnegative up to fixed-point slack, zero iff same") {
    import spark.implicits._
    val out = SparkEntry.queries("q246_psi_drift")(spark, sf)
      .select($"n_bins", $"psi_nano").as[(Long, Long)].collect()
    out.foreach { case (nb, nano) =>
      // each term is (p−q)·ln(p/q) ≥ 0; rounding can cost ½ nano/bin
      assert(nano >= -nb, s"psi below rounding floor: $nano for $nb")
    }
  }

  test("q251 mSPRT: crossing is monotone; lnΛ matches a driver recompute") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q251_msprt_monitor")(spark, sf)
      .select($"event_type", $"day_id", $"ln_lambda",
        $"ln_lambda_max", $"crossed")
      .as[(String, Long, Double, Double, Boolean)].collect()
    out.groupBy(_._1).foreach { case (_, rows) =>
      val seq = rows.sortBy(_._2)
      // always-valid decisions never un-cross, and the running max is
      // genuinely the running max
      seq.sliding(2).foreach {
        case Array(a, b) =>
          assert(!a._5 || b._5, "crossed must be monotone")
          assert(b._4 >= a._4 - 1e-9)
        case _ =>
      }
      seq.foreach(r => assert(r._4 >= r._3 - 1e-9))
    }
    // recompute one cell end-to-end from raw events
    val ev = Tables.events(spark, sf)
      .select($"event_type",
        expr("unix_micros(ts) DIV 86400000000").as("day_id"),
        ($"user_id" % 2 === 0L).as("a"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("c"))
      .as[(String, Long, Boolean, Long)].collect()
    val (tpe, lastDay) = (out.head._1, out.filter(_._1 == out.head._1)
      .map(_._2).max)
    val rows = ev.filter(r => r._1 == tpe && r._2 <= lastDay)
    def stats(p: Boolean) = {
      val xs = rows.filter(_._3 == p).map(_._4)
      (xs.length.toLong, xs.sum, xs.map(x => x * x).sum)
    }
    val (na, sa, qa) = stats(true)
    val (nb, sb, qb) = stats(false)
    val ma = sa.toDouble / na
    val mb = sb.toDouble / nb
    val s2 = (qa - na * ma * ma + qb - nb * mb * mb) / (na + nb - 2.0)
    val vv = s2 * (1.0 / na + 1.0 / nb)
    val th = ma - mb
    val want = 0.5 * math.log(vv / (vv + 2500.0)) +
      th * th * 2500.0 / (2.0 * vv * (vv + 2500.0))
    val got = out.filter(r => r._1 == tpe && r._2 == lastDay).head._3
    assert(math.abs(got - want) < 1e-5, s"$got vs $want")
  }

  test("q252 Qini closes at the full-population uplift") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val full = SparkEntry.queries("q252_qini_uplift")(spark, sf)
      .filter($"k" === 10L)
      .select($"depth_n", $"n_treat", $"r_treat", $"n_ctrl", $"r_ctrl",
        $"qini")
      .as[(Long, Long, Long, Long, Long, Double)].head()
    val ev = Tables.events(spark, sf)
      .select(($"user_id" % 2 === 1L).as("t"),
        ($"event_type" === "purchase").as("p"))
      .as[(Boolean, Boolean)].collect()
    assert(full._1 == ev.length, "k=10 must cover the population")
    assert(full._2 == ev.count(_._1))
    assert(full._3 == ev.count(r => r._1 && r._2))
    assert(full._4 == ev.count(!_._1))
    assert(full._5 == ev.count(r => !r._1 && r._2))
    val want = full._3 - full._5.toDouble * full._2 / full._4
    assert(math.abs(full._6 - want) < 1e-6)
  }

  test("q253 entities are the transitive closure; members conserve") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val p = Tables.part(spark, sf)
      .select($"p_partkey", $"p_name", $"p_brand", $"p_type", $"p_size")
      .as[(Long, String, String, String, Int)].collect()
    // brute-force union-find over the same scored pairs
    val parent = scala.collection.mutable.HashMap(
      p.map(r => r._1 -> r._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i =>
        Array.tabulate(b.length + 1)(j => if (i == 0) j
        else if (j == 0) i else 0))
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j), dp(i)(j - 1)) + 1,
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    for {
      grp <- p.groupBy(_._3).values
      Array(x, y) <- grp.sortBy(_._1).combinations(2)
    } {
      val score = (if (lev(x._2, y._2) <= 2) 4 else 0) +
        (if (x._4 == y._4) 2 else 0) +
        (if (math.abs(x._5 - y._5) <= 2) 1 else 0)
      if (score >= 5) {
        val (rx, ry) = (find(x._1), find(y._1))
        if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
      }
    }
    // canonicalize: every node's root is the min partkey of its entity
    val want = p.map(r => r._1 -> find(r._1)).toMap
    val got = SparkEntry.queries("q253_entity_resolution")(spark, sf)
      .select($"entity_id", $"n_members").as[(Long, Long)].collect()
    assert(got.map(_._2).sum == p.length,
      "every record belongs to exactly one entity")
    val wantEntities = want.values.toSeq.groupBy(identity)
      .map { case (e, xs) => e -> xs.length.toLong }
    assert(got.toMap == wantEntities,
      "entities must equal the union-find closure of the scored pairs")
  }

  test("q254 ACF matches a driver recompute; Q is nondecreasing") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val daily = Tables.events(spark, sf)
      .select($"event_type",
        expr("unix_micros(ts) DIV 86400000000").as("day_id"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("c"))
      .groupBy($"event_type", $"day_id")
      .agg(sum($"c").as("x"))
      .as[(String, Long, Long)].collect()
    val got = SparkEntry.queries("q254_ljung_box")(spark, sf)
      .select($"event_type", $"k", $"acf", $"q_stat")
      .as[(String, Long, Double, Double)].collect()
    got.groupBy(_._1).foreach { case (tpe, rows) =>
      val xs = daily.filter(_._1 == tpe).sortBy(_._2).map(_._3.toDouble)
      val m = xs.sum / xs.length
      val den = xs.map(x => (x - m) * (x - m)).sum
      rows.sortBy(_._2).foreach { case (_, k, acf, _) =>
        val num = (k.toInt until xs.length)
          .map(i => (xs(i) - m) * (xs(i - k.toInt) - m)).sum
        assert(math.abs(acf - num / den) < 1e-6, s"$tpe lag $k")
      }
      rows.sortBy(_._2).map(_._4).sliding(2).foreach {
        case Array(a, b) => assert(b >= a - 1e-9, s"$tpe Q not monotone")
        case _ =>
      }
    }
  }

  test("q255 shrinkage interpolates raw↔grand and trusts big cells more") {
    import spark.implicits._
    val out = SparkEntry.queries("q255_eb_shrinkage")(spark, sf)
      .select($"event_type", $"n", $"raw_mean", $"grand_mean",
        $"shrink_factor", $"shrunk_mean")
      .as[(String, Long, Double, Double, Double, Double)].collect()
    out.foreach { case (t, _, raw, grand, b, shrunk) =>
      assert(b >= -1e-9 && b <= 1 + 1e-9, s"$t factor $b")
      val (lo, hi) = (math.min(raw, grand), math.max(raw, grand))
      assert(shrunk >= lo - 2e-6 && shrunk <= hi + 2e-6,
        s"$t shrunk $shrunk outside [$lo, $hi]")
    }
    // posterior weight is monotone in cell size within a type
    out.groupBy(_._1).values.foreach { rows =>
      rows.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) if a._2 < b._2 =>
          assert(b._5 >= a._5 - 1e-9, "bigger cells must shrink less")
        case _ =>
      }
    }
  }

  test("q257 conformal: exact order statistic; coverage near nominal") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // sf0.001's ~3-row calibration cells all hit the k > n infinite-
    // interval branch; the guarantee needs the driver's correctness SF
    val sf01 = "/root/testdata/sf0.01"
    val out = SparkEntry.queries("q257_conformal_intervals")(spark, sf01)
      .select($"event_type", $"hr", $"n_cal", $"qhat_cents",
        $"coverage_permille")
      .as[(String, Long, Long, Option[Double], Long)].collect()
    assert(out.nonEmpty)
    // marginal coverage averages to ≥ 1−α by the conformal guarantee
    // (up to finite-cell noise); wildly low would mean a broken rank
    val cov = out.map(_._5.toDouble)
    assert(cov.sum / cov.length > 850.0,
      s"mean coverage ${cov.sum / cov.length}")
    // recompute one cell's q̂ as the ⌈(n+1)·0.9⌉-th smallest residual
    val ev = Tables.events(spark, sf01)
      .select($"event_type",
        expr("(unix_micros(ts) DIV 3600000000) % 24").as("hr"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("c"),
        unix_micros($"ts").as("us"))
      .as[(String, Long, Long, Long)].collect()
    val (tpe, hr) = (out.head._1, out.head._2)
    val cell = ev.filter(r => r._1 == tpe && r._2 == hr)
    val trainRows = cell.filter(_._4 < 1704931200000000L)
    val (nT, sT) = (trainRows.length.toLong, trainRows.map(_._3).sum)
    val scores = cell
      .filter(r =>
        r._4 >= 1704931200000000L && r._4 < 1705795200000000L)
      .map(r => math.abs(r._3 * nT - sT)).sorted
    val k = (9 * (scores.length + 1) + 9) / 10
    assert(k <= scores.length, "fixture: finite interval expected")
    val want = scores(k - 1).toDouble / nT
    val got = out.head._4.get
    assert(math.abs(got - want) < 1e-5, s"$got vs $want")
  }

  test("q258 PMI matches a driver recompute on the top collocation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val texts = Tables.documents(spark, sf)
      .select(split($"text", " ").as("t")).as[Seq[String]].collect()
    val toks = texts.flatMap(_.filter(_.nonEmpty))
    val nt = toks.length.toDouble
    val uni = toks.groupBy(identity).view.mapValues(_.length).toMap
    val bigrams = texts.flatMap(t => t.sliding(2).collect {
      case Seq(a, b) => (a, b)
    })
    val nb = bigrams.length.toDouble
    val big = bigrams.groupBy(identity).view.mapValues(_.length).toMap
    val got = SparkEntry.queries("q258_pmi_collocations")(spark, sf)
      .select($"w1", $"w2", $"c12", $"pmi")
      .as[(String, String, Long, Double)].collect()
    assert(got.nonEmpty && got.forall(_._3 >= 5L))
    got.take(5).foreach { case (w1, w2, c12, pmi) =>
      assert(big((w1, w2)).toLong == c12)
      val want = math.log(c12 * nt * nt / (nb * uni(w1) * uni(w2)))
      assert(math.abs(pmi - want) < 1e-5, s"($w1,$w2): $pmi vs $want")
    }
  }

  test("q259 adjusted mean reweights B's hour means to A's mix") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val cells = Tables.events(spark, sf)
      .select(($"user_id" % 2 === 1L).as("b"),
        expr("(unix_micros(ts) DIV 3600000000) % 24").as("hr"),
        expr("CAST(ROUND(value * 100) AS BIGINT)").as("c"))
      .as[(Boolean, Long, Long)].collect()
    val byHr = cells.groupBy(_._2)
    val na = cells.count(!_._1).toDouble
    val adj = byHr.values.map { grp =>
      val nah = grp.count(!_._1).toDouble
      val bs = grp.filter(_._1).map(_._3)
      nah * (bs.sum.toDouble / bs.length)
    }.sum / na
    val got = SparkEntry.queries("q259_post_stratification")(spark, sf)
      .select($"mean_b_adjusted", $"mean_a", $"diff_adjusted")
      .as[(Double, Double, Double)].head()
    assert(math.abs(got._1 - adj) < 1e-4, s"${got._1} vs $adj")
    assert(math.abs(got._3 - (got._1 - got._2)) < 3e-6)
  }

  // ---- r12-advice regression gates ---------------------------------

  test("q260 incremental AUC == whole-corpus AUC; re-run idempotent") {
    val full = SparkEntry.queries("q240_roc_auc")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val inc1 = SparkEntry.queries("q260_incremental_auc")(spark, sf)
      .collect().map(_.toSeq).toSeq
    // second run serves the already-built store (build-if-absent)
    val inc2 = SparkEntry.queries("q260_incremental_auc")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(inc1 == full,
      "store-merge must be integer-identical to the full recompute")
    assert(inc2 == full, "replay must be idempotent")
    val marker = new java.io.File(
      s"${ops.Eval.q260Hist.root(spark, sf)}/_GRAFT_STORE_COMPLETE")
    assert(marker.exists(), "store-level completion marker missing")
  }

  test("streaming mSPRT == batch mSPRT, row for row (raw doubles)") {
    val a = SparkEntry.queries("q256_stream_msprt")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("q251_msprt_monitor")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b,
      "the streamed cumulative fold must be bit-identical to the " +
        "batch window closed form")
  }

  test("streaming heavy hitters == batch heavy hitters, row for row") {
    val a = SparkEntry.queries("q249_stream_heavy_hitters")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("q238_heavy_hitters")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("store guard self-heals: partial build (sub-_SUCCESS only) rebuilds") {
    // the r12-advice crash window, for EVERY declared store: the build
    // died after its earlier sub-writes landed (their own _SUCCESS
    // present) but before the last one and the completion marker. The
    // next ensure must rebuild (a guard on a sub-store's _SUCCESS would
    // serve the broken store forever), record that build and read the
    // same rows.
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    def rows(st: ops.StoreGuard.Store, root: String): Long =
      st.payload.map(p => spark.read.parquet(s"$root/$p").count()).sum
    val stores = ops.StoreGuard.all
    assert(stores.size >= 40, s"only ${stores.size} declared stores")
    def crashAndHeal(st: ops.StoreGuard.Store): Seq[String] = {
      val root = st.ensure(spark, sf)
      val before = rows(st, root)
      val marker = new java.io.File(s"$root/_GRAFT_STORE_COMPLETE")
      assert(marker.delete(), s"${st.name}: no marker after ensure")
      rm(new java.io.File(s"$root/${st.payload.last}"))
      val b0 = ops.StoreGuard.builds.size
      val again = st.ensure(spark, sf)
      val healed = ops.StoreGuard.builds.drop(b0)
      val after = rows(st, again)
      // the store layer reports the rebuild, and a found call nothing
      val b1 = ops.StoreGuard.builds.size
      st.ensure(spark, sf)
      val why = Seq(
        (again != root) -> s"root moved to $again",
        !marker.exists() -> "marker not restored",
        (after != before) -> s"rows $after != $before",
        !healed.contains(st.name) -> s"rebuild not recorded: $healed",
        (ops.StoreGuard.builds.size != b1) -> "a found call recorded a build")
      why.collect { case (true, w) => s"${st.name}: $w" }
    }
    val broken = stores.flatMap { st =>
      try crashAndHeal(st)
      catch { case e: Exception => Seq(s"${st.name}: $e") }
    }
    assert(broken.isEmpty, broken.mkString("\n"))
  }

  test("pointLookup pmods negative ids into written buckets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_neg_lookup").toString
    val b = ops.Vectors.lookupBuckets
    Seq(-5L, -1L, 3L).toDF("vec_id")
      .withColumn("b", pmod($"vec_id", lit(b.toLong)))
      .repartition(col("b"))
      .write.mode("overwrite").partitionBy("b").parquet(dir)
    val got = ops.Vectors
      .pointLookup(spark.read.parquet(dir), "vec_id", Seq(-5L, 3L))
      .select($"vec_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(-5L, 3L),
      "negative ids must pmod to the buckets the writer used")
  }

  test("streamPatternMatch declines un-timed trailing-greedy patterns") {
    import ops.Sequence.{Pattern, Step}
    val bad = Pattern(
      Seq(Step("purchase", oneOrMore = false),
        Step("error", oneOrMore = true)),
      withinUs = ops.Sequence.Unbounded)
    val e = intercept[IllegalArgumentException] {
      streaming.Streams.streamPatternMatch(spark, sf, Some(bad))
    }
    assert(e.getMessage.contains("row-driven completion"))
    // timed trailing-greedy and un-timed single-row tails stay accepted
    streaming.Streams.streamPatternMatch(spark, sf,
      Some(bad.copy(withinUs = 3600L * 1000000L)), plusAlias = "n_err")
      .collect()
  }
}
