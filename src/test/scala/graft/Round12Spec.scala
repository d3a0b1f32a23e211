package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-12 gates. The headline is the MATCH_RECOGNIZE-class sequence
  * matcher (`ops.Sequence`): its single-pass NFA is pinned against an
  * INDEPENDENT reference matcher that implements the defining semantics
  * directly — a backtracking attempt at every row position, greedy
  * quantifiers, skip past last row, within-T — on both handcrafted
  * fixtures (where repetition, the time bound, and user boundaries each
  * genuinely bind) and randomized sequences. The driver's DuckDB oracle
  * gates q216/q221's closed forms; only this spec gates the GENERAL
  * engine.
  */
class Round12Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  import ops.Sequence.{Pattern, SeqMatch, Step}

  /** Reference matcher: the textbook definition, no NFA. Attempts start
    * at each row; an attempt consumes rows in order — under STRICT
    * contiguity consecutively (a non-matching row fails the attempt),
    * under RELAXED contiguity skipping non-matching rows — each step
    * taking 1 (once) or greedily as many as possible (oneOrMore),
    * every consumed row within `withinUs` of the attempt's first row.
    * First successful attempt wins; the scan resumes after its last
    * consumed row (skip past last row). Trailing one-or-more steps
    * complete greedily at the first non-extending row or sequence end.
    */
  private def referenceMatch(
      rows: Seq[(Long, Long, Long, String)], // user_id, us, event_id, type
      p: Pattern): Seq[SeqMatch] = {
    val out = Seq.newBuilder[SeqMatch]
    for ((user, seq0) <- rows.groupBy(_._1).toSeq.sortBy(_._1)) {
      val seq = seq0.sortBy(r => (r._2, r._3))
      var i = 0
      while (i < seq.length) {
        // attempt starting at row i
        var j = i
        var step = 0
        var ok = true
        var nRows = 0L
        var nPlus = 0L
        // the match start is the first CONSUMED row (under relaxed
        // contiguity the attempt may hop before anchoring); the WITHIN
        // clock also runs from there (strict never hops, so there they
        // coincide)
        var startUs = seq(i)._2
        var anchored = false
        var lastJ = -1
        var inStep = 0
        def timeOk(k: Int): Boolean =
          seq(k)._2 - startUs <= p.withinUs
        def fits(k: Int, st: Step): Boolean =
          k < seq.length && st.eventTypes.contains(seq(k)._4) &&
            timeOk(k)
        // relaxed: hop over rows the attempt can neither consume into
        // the current step nor advance past it on (a LATER step's type
        // with the current minimum met and only skippable steps
        // between)
        def hop(st: Step): Unit =
          if (p.relaxed)
            while (j < seq.length && !st.eventTypes.contains(seq(j)._4) &&
              !(inStep >= st.minRep && p.steps.indexWhere(
                _.eventTypes.contains(seq(j)._4)) > step &&
                (step + 1 until p.steps.indexWhere(
                  _.eventTypes.contains(seq(j)._4)))
                  .forall(p.steps(_).minRep == 0)))
              j += 1
        while (ok && step < p.steps.length) {
          val st = p.steps(step)
          inStep = 0
          // greedy: take rows into this step up to its maximum
          var more = true
          while (more && inStep < st.maxRep) {
            hop(st)
            if (fits(j, st)) {
              if (!anchored) { anchored = true; startUs = seq(j)._2 }
              lastJ = j; j += 1; nRows += 1; inStep += 1
              if (st.maxRep > 1) nPlus += 1
            } else more = false
          }
          if (inStep < st.minRep) ok = false else step += 1
        }
        if (ok && nRows > 0) {
          out += SeqMatch(user, startUs, seq(lastJ)._2, nRows, nPlus)
          i = lastJ + 1 // skip past last consumed row
        } else i += 1
      }
    }
    out.result()
  }

  private def nfaMatch(
      rows: Seq[(Long, Long, Long, String)], p: Pattern): Seq[SeqMatch] = {
    import spark.implicits._
    val df = spark
      .createDataset(rows)
      .toDF("user_id", "us", "event_id", "event_type")
      .withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.col("us")))
      .repartition(5) // matches must be placement-independent
    ops.Sequence
      .matchPattern(df, p)
      .as[SeqMatch]
      .collect()
      .toSeq
      .sortBy(m => (m.user_id, m.start_us, m.end_us))
  }

  private val funnel = Pattern(
    Seq(Step("view", oneOrMore = false), Step("click", oneOrMore = true),
      Step("purchase", oneOrMore = false)),
    withinUs = 100L)

  test("q216 NFA: repetition, time bound, and user boundary each bind") {
    // user 1: view c c purchase inside the bound → one match, n_plus=2
    // user 2: view at t0, clicks, purchase at t0+150 → killed by WITHIN
    // user 3: view c (user ends) → incomplete, no match
    // user 4: view c view c purchase → restart on the second view
    val rows = Seq[(Long, Long, Long, String)](
      (1L, 10L, 1L, "view"), (1L, 20L, 2L, "click"),
      (1L, 30L, 3L, "click"), (1L, 40L, 4L, "purchase"),
      (2L, 10L, 1L, "view"), (2L, 60L, 2L, "click"),
      (2L, 160L, 3L, "purchase"),
      (3L, 10L, 1L, "view"), (3L, 20L, 2L, "click"),
      (4L, 10L, 1L, "view"), (4L, 20L, 2L, "click"),
      (4L, 30L, 3L, "view"), (4L, 40L, 4L, "click"),
      (4L, 50L, 5L, "purchase"),
    )
    val got = nfaMatch(rows, funnel)
    assert(got == Seq(
      SeqMatch(1L, 10L, 40L, 4L, 2L),
      SeqMatch(4L, 30L, 50L, 3L, 1L)))
    assert(got == referenceMatch(rows, funnel))
  }

  test("q221 NFA: trailing one-or-more completes greedily, incl. at stream end") {
    val p = Pattern(
      Seq(Step("purchase", oneOrMore = false),
        Step("error", oneOrMore = true)),
      withinUs = 50L)
    // user 1: purchase e e e, run cut by WITHIN (third error at +60)
    // user 2: purchase e e then a view → emits on the non-extending row
    // user 3: purchase e e, stream ends → emitted by the end-flush
    val rows = Seq[(Long, Long, Long, String)](
      (1L, 10L, 1L, "purchase"), (1L, 20L, 2L, "error"),
      (1L, 40L, 3L, "error"), (1L, 70L, 4L, "error"),
      (2L, 10L, 1L, "purchase"), (2L, 20L, 2L, "error"),
      (2L, 30L, 3L, "error"), (2L, 40L, 4L, "view"),
      (3L, 10L, 1L, "purchase"), (3L, 20L, 2L, "error"),
      (3L, 30L, 3L, "error"),
    )
    val got = nfaMatch(rows, p)
    assert(got == Seq(
      SeqMatch(1L, 10L, 40L, 3L, 2L),
      SeqMatch(2L, 10L, 30L, 3L, 2L),
      SeqMatch(3L, 10L, 30L, 3L, 2L)))
    assert(got == referenceMatch(rows, p))
  }

  test("NFA ≡ backtracking reference matcher on randomized sequences") {
    // deterministic pseudo-random event soup: enough users × rows that
    // restarts, kills, timeouts, and back-to-back matches all occur
    val types = Array("view", "click", "purchase", "error", "signup")
    def gen(seed: Long, n: Int): Seq[(Long, Long, Long, String)] =
      (0 until n).map { i =>
        val h = graft.gen.Rng.mix64(seed + i)
        val user = (h & 0x7L) + 1
        val us = ((h >>> 8) & 0xffL) * 7 + i // loosely increasing, ties possible
        (user, us, i.toLong, types(((h >>> 20) & 0xffffL).toInt % 5))
      }
    val patterns = Seq(
      funnel,
      Pattern(Seq(Step("signup", oneOrMore = false),
        Step("view", oneOrMore = true),
        Step("click", oneOrMore = true),
        Step("purchase", oneOrMore = false)), withinUs = 400L),
      Pattern(Seq(Step("error", oneOrMore = true)), withinUs = 30L),
      Pattern(Seq(Step("click", oneOrMore = false),
        Step("error", oneOrMore = true)), withinUs = 60L),
      // alternation: set-valued step predicates
      Pattern(Seq(Step("view", oneOrMore = false),
        Step(Seq("click", "error"), oneOrMore = true),
        Step("purchase", oneOrMore = false)), withinUs = 120L),
      Pattern(Seq(Step(Seq("signup", "view"), oneOrMore = false),
        Step(Seq("click", "error", "purchase"), oneOrMore = true)),
        withinUs = 90L),
      // relaxed contiguity (followedBy): skipping, leading-plus,
      // alternation — all composed
      Pattern(Seq(Step("signup", oneOrMore = false),
        Step("view", oneOrMore = true),
        Step("purchase", oneOrMore = false)),
        withinUs = ops.Sequence.Unbounded, relaxed = true),
      Pattern(Seq(Step("click", oneOrMore = true),
        Step("error", oneOrMore = false)),
        withinUs = ops.Sequence.Unbounded, relaxed = true),
      Pattern(Seq(Step(Seq("view", "click"), oneOrMore = true)),
        withinUs = ops.Sequence.Unbounded, relaxed = true),
      // TIME-BOUNDED relaxed: the concurrent-thread matcher, incl.
      // leading-plus and trailing-plus-timeout completions
      Pattern(Seq(Step("signup", oneOrMore = false),
        Step("view", oneOrMore = true),
        Step("purchase", oneOrMore = false)),
        withinUs = 150L, relaxed = true),
      Pattern(Seq(Step("click", oneOrMore = true),
        Step("error", oneOrMore = false)),
        withinUs = 80L, relaxed = true),
      Pattern(Seq(Step("error", oneOrMore = true)),
        withinUs = 40L, relaxed = true),
      // bounded {n,m} repetition + optional steps, strict and relaxed
      Pattern(Seq(Step("view", oneOrMore = false),
        Step.rep("click", 1, 2), Step.opt("error"),
        Step("purchase", oneOrMore = false)), withinUs = 200L),
      Pattern(Seq(Step("signup", oneOrMore = false),
        Step.rep("view", 2, 3),
        Step("purchase", oneOrMore = false)), withinUs = 300L),
      Pattern(Seq(Step("signup", oneOrMore = false),
        Step.opt("view"), Step.opt("click"),
        Step("purchase", oneOrMore = false)), withinUs = 150L),
      Pattern(Seq(Step("view", oneOrMore = false),
        Step.rep("click", 1, 2), Step.opt("error"),
        Step("purchase", oneOrMore = false)),
        withinUs = ops.Sequence.Unbounded, relaxed = true),
      Pattern(Seq(Step("signup", oneOrMore = false),
        Step.rep("view", 2, 3),
        Step("purchase", oneOrMore = false)),
        withinUs = 250L, relaxed = true),
    )
    val matchCount =
      scala.collection.mutable.Map.empty[Pattern, Int].withDefaultValue(0)
    for (seed <- Seq(1L, 2L, 3L); p <- patterns) {
      val rows = gen(seed * 7919L, 400)
      val want = referenceMatch(rows, p)
        .sortBy(m => (m.user_id, m.start_us, m.end_us))
      val got = nfaMatch(rows, p)
      assert(got == want, s"seed=$seed pattern=$p")
      matchCount(p) += want.length
    }
    // every pattern must actually match somewhere across the seeds —
    // an all-empty pattern would gate nothing
    patterns.foreach(p =>
      assert(matchCount(p) > 0, s"degenerate pattern (0 matches): $p"))
  }

  test("q226 relaxed contiguity: skipping binds where strict kills") {
    val rows = Seq[(Long, Long, Long, String)](
      (1L, 10L, 1L, "signup"), (1L, 20L, 2L, "error"),
      (1L, 30L, 3L, "view"), (1L, 40L, 4L, "click"),
      (1L, 50L, 5L, "purchase"))
    val steps = Seq(Step("signup", oneOrMore = false),
      Step("view", oneOrMore = true),
      Step("purchase", oneOrMore = false))
    val strict = nfaMatch(rows,
      Pattern(steps, withinUs = 1000L))
    assert(strict.isEmpty, "the interleaved error must kill strict")
    val relaxed = nfaMatch(rows,
      Pattern(steps, ops.Sequence.Unbounded, relaxed = true))
    // consumed rows only: signup, view, purchase (error/click skipped)
    assert(relaxed == Seq(SeqMatch(1L, 10L, 50L, 3L, 1L)))
    assert(relaxed == referenceMatch(rows,
      Pattern(steps, ops.Sequence.Unbounded, relaxed = true)))
    // relaxed with a finite WITHIN routes to the concurrent-thread
    // matcher — compile (the single-thread path, what streaming uses)
    // refuses it
    assertThrows[IllegalArgumentException] {
      ops.Sequence.compile(Pattern(steps, withinUs = 1000L,
        relaxed = true))
    }
    // PARTITION BY an arbitrary key: the same rows keyed by a machine
    // column match independently per machine
    import spark.implicits._
    val machineRows = Seq[(Long, Long, Long, String, Long)](
      (1L, 10L, 1L, "signup", 7L), (1L, 20L, 2L, "view", 7L),
      (1L, 30L, 3L, "purchase", 7L),
      (1L, 15L, 4L, "signup", 9L), (1L, 25L, 5L, "view", 9L),
      (1L, 35L, 6L, "purchase", 9L))
    val mdf = spark.createDataset(machineRows)
      .toDF("user_id", "us", "event_id", "event_type", "machine")
      .withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.col("us")))
    val byMachine = ops.Sequence
      .matchPattern(mdf,
        Pattern(Seq(Step("signup", oneOrMore = false),
          Step("view", oneOrMore = true),
          Step("purchase", oneOrMore = false)), withinUs = 1000L),
        keyCol = "machine")
      .as[SeqMatch].collect().sortBy(_.user_id)
    assert(byMachine.toSeq == Seq(
      SeqMatch(7L, 10L, 30L, 3L, 1L), SeqMatch(9L, 15L, 35L, 3L, 1L)))
  }

  test("q227 concurrent threads: a timed-out attempt reveals the viable later anchor") {
    // a1 = signup@0 anchors; a2 = signup@50 spawns a CONCURRENT attempt
    // (a single-thread relaxed pass would ignore it — the q226-doc'd
    // divergence); a1 times out before any view arrives, a2 completes.
    val rows = Seq[(Long, Long, Long, String)](
      (1L, 0L, 1L, "signup"), (1L, 50L, 2L, "signup"),
      (1L, 120L, 3L, "view"), (1L, 140L, 4L, "purchase"))
    val p = Pattern(
      Seq(Step("signup", oneOrMore = false),
        Step("view", oneOrMore = true),
        Step("purchase", oneOrMore = false)),
      withinUs = 100L, relaxed = true)
    val got = nfaMatch(rows, p)
    assert(got == Seq(SeqMatch(1L, 50L, 140L, 3L, 1L)))
    assert(got == referenceMatch(rows, p))
    // and with a generous bound the EARLIER anchor wins instead
    val wide = nfaMatch(rows, p.copy(withinUs = 1000L))
    assert(wide == Seq(SeqMatch(1L, 0L, 140L, 3L, 1L)))
  }

  test("q231 session scoping: a gap closes greedy tails and kills open attempts") {
    import spark.implicits._
    def run(rows: Seq[(Long, Long, Long, String)], p: Pattern,
        gap: Option[Long]) = {
      val df = spark.createDataset(rows)
        .toDF("user_id", "us", "event_id", "event_type")
        .withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.col("us")))
      ops.Sequence.matchPattern(df, p, gap)
        .as[SeqMatch].collect().toSeq
    }
    val funnel3 = Pattern(Seq(Step("view", oneOrMore = false),
      Step("click", oneOrMore = true),
      Step("purchase", oneOrMore = false)), withinUs = 10000L)
    // the purchase arrives after an inactivity gap: without scoping it
    // completes the funnel; scoped, the attempt died with the session
    val spanning = Seq[(Long, Long, Long, String)](
      (1L, 0L, 1L, "view"), (1L, 10L, 2L, "click"),
      (1L, 120L, 3L, "purchase"))
    assert(run(spanning, funnel3, None).size == 1)
    assert(run(spanning, funnel3, Some(50L)).isEmpty)
    // a gap ENDS the session like end-of-data: the satisfied greedy
    // tail emits, and the post-gap rows anchor a fresh session's match
    val tail = Pattern(Seq(Step("purchase", oneOrMore = false),
      Step("error", oneOrMore = true)), withinUs = 10000L)
    val rows2 = Seq[(Long, Long, Long, String)](
      (1L, 0L, 1L, "purchase"), (1L, 10L, 2L, "error"),
      (1L, 200L, 3L, "purchase"), (1L, 210L, 4L, "error"))
    assert(run(rows2, tail, Some(50L)) == Seq(
      SeqMatch(1L, 0L, 10L, 2L, 1L),
      SeqMatch(1L, 200L, 210L, 2L, 1L)))
  }

  test("pattern parser: textual surface round-trips every feature; bad input is loud") {
    import ops.Sequence.parse
    assert(parse("view click+ purchase within 24h") ==
      Pattern(Seq(Step(Seq("view"), 1, 1),
        Step(Seq("click"), 1, Step.Inf), Step(Seq("purchase"), 1, 1)),
        24L * 3600L * 1000000L))
    assert(parse("relaxed signup view+ purchase within 48h") ==
      Pattern(Seq(Step(Seq("signup"), 1, 1),
        Step(Seq("view"), 1, Step.Inf), Step(Seq("purchase"), 1, 1)),
        48L * 3600L * 1000000L, relaxed = true))
    assert(parse("view (click|error)+ purchase within 90m") ==
      Pattern(Seq(Step(Seq("view"), 1, 1),
        Step(Seq("click", "error"), 1, Step.Inf),
        Step(Seq("purchase"), 1, 1)), 90L * 60L * 1000000L))
    assert(parse("view click{1,2} error? purchase within 30s") ==
      Pattern(Seq(Step(Seq("view"), 1, 1), Step(Seq("click"), 1, 2),
        Step(Seq("error"), 0, 1), Step(Seq("purchase"), 1, 1)),
        30L * 1000000L))
    assert(parse("a b{3} c{2,} within 1d") ==
      Pattern(Seq(Step(Seq("a"), 1, 1), Step(Seq("b"), 3, 3),
        Step(Seq("c"), 2, Step.Inf)), 86400L * 1000000L))
    // no within → Unbounded
    assert(parse("relaxed signup purchase").withinUs ==
      ops.Sequence.Unbounded)
    assertThrows[IllegalArgumentException](parse(""))
    assertThrows[IllegalArgumentException](parse("view within 2x"))
    assertThrows[IllegalArgumentException](parse("view click{,3} p"))
    // parsed patterns still hit Pattern's exactness requires
    assertThrows[IllegalArgumentException](
      parse("click+ error within 1h"))
  }

  test("Pattern rejects the shapes the O(1)-state fold cannot honor exactly") {
    // leading `+` in a multi-step pattern: a timeout-failed attempt can
    // hide valid later starts inside its consumed run
    assertThrows[IllegalArgumentException] {
      Pattern(Seq(Step("click", oneOrMore = true),
        Step("error", oneOrMore = false)), withinUs = 60L)
    }
    // overlapping step predicates need concurrent threads
    assertThrows[IllegalArgumentException] {
      Pattern(Seq(Step("click", oneOrMore = false),
        Step("click", oneOrMore = true)), withinUs = 60L)
    }
  }

  test("q217: naive per-event SE understates the clustered SE; delta ≈ jackknife") {
    import spark.implicits._
    // maximal clustering: every user's events share the user's value, so
    // between-user variance is all there is and per-event iid is a lie
    val rows = (1L to 40L).flatMap { u =>
      val v = if (u <= 20) 10.0 else 1.0
      (1 to 25).map(i => (u, v, i.toLong))
    }
    val df = rows
      .toDF("user_id", "value", "k")
      .withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros($"k" * 1000000L))
    val got = ops.Stats.deltaMethod(df)
      .as[(Long, Long, Long, Double, Double, Double, Double)]
      .collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(0L, 1L))
    for ((variant, nu, m, mean, seN, seC, deff) <- got) {
      assert(nu == 20L && m == 500L)
      // the honest SE is the cluster one; the naive per-event SE divides
      // the between-user spread by √500 instead of √20
      assert(seC > 3.0 * seN, s"variant=$variant seC=$seC seN=$seN")
      assert(deff > 9.0)
      // delta-method SE tracks a direct leave-one-user-out jackknife
      val users = rows.filter(r => r._1 % 2 == variant)
        .groupBy(_._1).toSeq.map { case (_, rs) =>
          (rs.size.toLong, rs.map(r => math.round(r._2 * 100)).sum)
        }
      val tot = (users.map(_._1).sum, users.map(_._2).sum)
      val loo = users.map(u =>
        (tot._2 - u._2).toDouble / (tot._1 - u._1) / 100.0)
      val lbar = loo.sum / loo.size
      val jack = math.sqrt(
        loo.map(x => (x - lbar) * (x - lbar)).sum *
          (loo.size - 1).toDouble / loo.size)
      assert(math.abs(seC - jack) / jack < 0.2,
        s"variant=$variant delta=$seC jackknife=$jack")
    }
  }

  test("q218: planted +30% level shift alarms at the predicted hour; stable series never alarms") {
    import spark.implicits._
    // one event per hour: 80 hours at 100.00 (48 burn-in + 32 stable),
    // then 20 hours at 130.00. d = 48·13000 − 480000 = 144000 per shifted
    // hour, slack = 24000 ⇒ Sp grows 120000/h and crosses h = 4·s₀ =
    // 1,920,000 strictly after 16 shifted hours ⇒ alarm at hour 96.
    def series(n: Int, shiftAt: Int): Seq[(String, Long, Double)] =
      (0 until n).map(h =>
        ("t", h.toLong, if (h >= shiftAt) 130.0 else 100.0))
    def run(rows: Seq[(String, Long, Double)]) =
      ops.Events.cusum(
        rows.toDF("event_type", "hour", "value")
          .withColumn("ts", org.apache.spark.sql.functions
            .timestamp_micros($"hour" * 3600000000L)))
        .as[(String, Long, Long, Long, Long, Option[Long], Option[Long])]
        .collect().head
    val shifted = run(series(100, 80))
    assert(shifted._3 == 10000L) // burn-in mean cents
    assert(shifted._6.contains(96L),
      s"alarm_up=${shifted._6}, want hour 96")
    assert(shifted._7.isEmpty)
    val stable = run(series(100, 1000))
    assert(stable._6.isEmpty && stable._7.isEmpty)
    assert(stable._4 == 0L && stable._5 == 0L)
    // downward shift trips the negative side symmetrically
    val down = run((0 until 100).map(h =>
      ("t", h.toLong, if (h >= 80) 70.0 else 100.0)))
    assert(down._7.contains(96L) && down._6.isEmpty)
  }

  test("q219: deterministic noise is distribution-faithful across a wide domain") {
    import spark.implicits._
    // 20k one-event cells: noise = noisy_count − 1, drawn per cell key
    val df = (0L until 20000L)
      .toDF("day")
      .select(
        org.apache.spark.sql.functions.lit("x").as("event_type"),
        org.apache.spark.sql.functions
          .timestamp_micros($"day" * 86400000000L).as("ts"))
    val noise = ops.Stats.dpHistogram(df)
      .select($"noisy_count" - 1L).as[Long].collect()
    assert(noise.length == 20000)
    val mean = noise.sum.toDouble / noise.length
    val varN = noise.map(k => (k - mean) * (k - mean)).sum / noise.length
    // discrete Laplace, α = e⁻¹: Var = 2α/(1−α)² ≈ 1.8420
    val alpha = math.exp(-1.0)
    val want = 2 * alpha / ((1 - alpha) * (1 - alpha))
    assert(math.abs(mean) < 0.05, s"noise mean $mean")
    assert(math.abs(varN - want) / want < 0.1,
      s"noise var $varN, want ≈ $want")
    // and the release is deterministic: a re-run is bit-identical
    val again = ops.Stats.dpHistogram(df)
      .select($"noisy_count" - 1L).as[Long].collect()
    assert(noise.toSeq == again.toSeq)
  }

  test("q220: a pure-seasonal series forecasts the target hour's level exactly") {
    import spark.implicits._
    // 3 full days, zero trend, hod-dependent level: 800.00 before noon,
    // 500.00 from noon — deseasonalizing leaves an all-zero series, so
    // level = trend = 0 and each forecast is exactly the seasonal index
    // of its TARGET hour (phase-correct, which q214 cannot be)
    val rows = (0 until 72).map { h =>
      ("s", h.toLong, if (h % 24 < 12) 800.0 else 500.0)
    }
    val got = ops.Events.holtWinters(
      rows.toDF("event_type", "hour", "value")
        .withColumn("ts", org.apache.spark.sql.functions
          .timestamp_micros($"hour" * 3600000000L)))
      .as[(String, Long, Long, Long, Long, Long, Long)]
      .collect().head
    assert(got._2 == 72L)
    assert(got._3 == 0L && got._4 == 0L) // level, trend
    // last hour is 71 (hod 23): +1h → hod 0 (80000¢), +6h → hod 5
    // (80000¢), +24h → hod 23 (50000¢), all in micro-cents
    assert(got._5 == 80000L * 1000000L, s"fc_1h=${got._5}")
    assert(got._6 == 80000L * 1000000L)
    assert(got._7 == 50000L * 1000000L)
  }

  test("q222 streaming match ≡ batch matchPattern, row for row") {
    val sf = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("q222_stream_match")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("q216_match_recognize")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("PatternProcessor: a cross-batch in-watermark straggler still folds in event-time order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max => smax, timestamp_micros}
    // batch 1 delivers view(100s) and purchase(300s); batch 2 delivers
    // the BRIDGING click(200s) — older than batch 1's max but inside
    // the 10-minute watermark. Maturity gating must hold all three in
    // the buffer until the sentinel, then fold them in EVENT order and
    // find the match; an arrival-order fold would see view,purchase,
    // click and find nothing.
    val root = java.nio.file.Paths.get("target", "graft_stream",
      s"match_spec_${java.util.UUID.randomUUID().toString.take(8)}")
    val srcDir = root.resolve("src")
    java.nio.file.Files.createDirectories(srcDir)
    def stage(name: String, ageMs: Long,
        rows: Seq[(Long, Long, Long, String)]): Unit = {
      val tmp = root.resolve(s"tmp_$name").toString
      rows.toDF("user_id", "us", "event_id", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(tmp))) { l =>
        l.filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst.get
      }
      val dst = srcDir.resolve(s"$name.parquet")
      java.nio.file.Files.move(part, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - ageMs))
    }
    val s = 1000000L
    stage("b1", 50000L,
      Seq((1L, 100L * s, 1L, "view"), (1L, 300L * s, 3L, "purchase")))
    stage("b2", 40000L, Seq((1L, 200L * s, 2L, "click")))
    graft.streaming.Streams.withRocksDbStore(spark) {
      implicit val outEnc =
        org.apache.spark.sql.Encoders.product[ops.Sequence.SeqMatch]
      val matches = spark.readStream
        .schema("user_id LONG, us LONG, event_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
        .withColumn("wts", timestamp_micros($"us"))
        .withWatermark("wts", "10 minutes")
        .select($"user_id", $"us", $"event_id", $"event_type")
        .as[(Long, Long, Long, String)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.Streams.PatternProcessor(
            ops.Sequence.Pattern(
              Seq(ops.Sequence.Step("view", oneOrMore = false),
                ops.Sequence.Step("click", oneOrMore = true),
                ops.Sequence.Step("purchase", oneOrMore = false)),
              24L * 3600L * 1000000L)),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Update())
      val out = root.resolve("out").toString
      val q = matches.toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            batch.coalesce(1).write.mode("append").parquet(out)
        }
        .start()
      try {
        q.processAllAvailable()
        // nothing may emit before maturity: the straggler could still
        // arrive (and in batch 2, did)
        val early = try spark.read.parquet(out).count()
        catch { case _: Throwable => 0L }
        assert(early == 0L, s"emitted $early matches before maturity")
        stage("sentinel", 0L, Seq((-1L, 7200L * s, 9L, "none")))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(out)
        .filter(col("user_id") >= 0L)
        .collect().map(_.toSeq).toSeq
      assert(got == Seq(Seq(1L, 100L * s, 300L * s, 3L, 1L)),
        s"got $got")
    }
    graft.streaming.Streams.deleteStaged(root)
  }

  test("q228 streaming timed-relaxed match ≡ batch q227, row for row") {
    val sf = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("q228_stream_match_timed")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("q227_match_relaxed_timed")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("PatternProcessor deadline timer: a quiet key's trailing-+ match commits by time alone") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    // user 1's last row is error@20s; the match (purchase error+
    // WITHIN 60s) completes only when time proves no more errors can
    // join — here via the DEADLINE timer once the sentinel (a
    // different key!) advances the watermark past anchor+60s. Without
    // onTime/deadline arming, the key would stay wedged forever.
    val root = java.nio.file.Paths.get("target", "graft_stream",
      s"match_ddl_${java.util.UUID.randomUUID().toString.take(8)}")
    val srcDir = root.resolve("src")
    java.nio.file.Files.createDirectories(srcDir)
    def stage(name: String, ageMs: Long,
        rows: Seq[(Long, Long, Long, String)]): Unit = {
      val tmp = root.resolve(s"tmp_$name").toString
      rows.toDF("user_id", "us", "event_id", "event_type")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(tmp))) { l =>
        l.filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst.get
      }
      val dst = srcDir.resolve(s"$name.parquet")
      java.nio.file.Files.move(part, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - ageMs))
    }
    val s = 1000000L
    stage("b1", 50000L, Seq((1L, 0L, 1L, "purchase"),
      (1L, 10L * s, 2L, "error"), (1L, 20L * s, 3L, "error")))
    graft.streaming.Streams.withRocksDbStore(spark) {
      implicit val outEnc =
        org.apache.spark.sql.Encoders.product[ops.Sequence.SeqMatch]
      val matches = spark.readStream
        .schema("user_id LONG, us LONG, event_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
        .withColumn("wts", timestamp_micros($"us"))
        .withWatermark("wts", "10 minutes")
        .select($"user_id", $"us", $"event_id", $"event_type")
        .as[(Long, Long, Long, String)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.Streams.PatternProcessor(
            ops.Sequence.Pattern(
              Seq(ops.Sequence.Step("purchase", oneOrMore = false),
                ops.Sequence.Step("error", oneOrMore = true)),
              withinUs = 60L * s, relaxed = true)),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Update())
      val out = root.resolve("out").toString
      val q = matches.toDF().writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              _: Long) =>
            batch.coalesce(1).write.mode("append").parquet(out)
        }
        .start()
      try {
        q.processAllAvailable()
        // sentinel on ANOTHER key, far past anchor+within+delay
        stage("sentinel", 0L, Seq((-1L, 7200L * s, 9L, "none")))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.read.parquet(out)
        .filter(col("user_id") >= 0L)
        .collect().map(_.toSeq).toSeq
      assert(got == Seq(Seq(1L, 0L, 20L * s, 3L, 2L)), s"got $got")
    }
    graft.streaming.Streams.deleteStaged(root)
  }

  test("q224 streaming CUSUM ≡ batch q218, row for row") {
    val sf = "/root/testdata/sf0.001"
    val streamed = SparkEntry.queries("q224_stream_cusum")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("q218_cusum_changepoint")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("q232 tau-b equals a brute-force driver computation") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q232_kendall_tau")(spark, sf)
      .select($"event_type", $"tau_b").as[(String, Double)]
      .collect().toMap
    val daily = Tables.events(spark, sf)
      .selectExpr("event_type", "unix_micros(ts) DIV 86400000000 AS d",
        "CAST(ROUND(value * 100) AS BIGINT) AS c")
      .groupBy($"event_type", $"d")
      .agg(org.apache.spark.sql.functions.count("*").as("n"),
        org.apache.spark.sql.functions.sum($"c").as("cents"))
      .as[(String, Long, Long, Long)].collect()
      .groupBy(_._1)
    assert(got.nonEmpty)
    for ((t, rows) <- daily) {
      var cc, dd, tx, ty = 0L
      for {
        i <- rows.indices; j <- rows.indices
        if rows(i)._2 < rows(j)._2
      } {
        val (dn, dc) = (rows(j)._3 - rows(i)._3, rows(j)._4 - rows(i)._4)
        if (dn == 0 && dc == 0) ()
        else if (dn == 0) tx += 1
        else if (dc == 0) ty += 1
        else if (dn.sign == dc.sign) cc += 1
        else dd += 1
      }
      val want = (cc - dd).toDouble /
        math.sqrt(((cc + dd + tx) * (cc + dd + ty)).toDouble)
      assert(math.abs(got(t) - want) < 1e-5, s"$t: ${got(t)} vs $want")
      // the statistic is only probative if pairs actually disagree
      assert(cc > 0 && dd > 0, s"$t degenerate: C=$cc D=$dd")
    }
  }

  test("q233 KM curve: brute-force equal, monotone, and censoring genuinely matters") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q233_kaplan_meier")(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    // per variant: non-increasing survival, within (0, 1e6]
    got.groupBy(_._1).foreach { case (_, rows) =>
      val curve = rows.sortBy(_._2).map(_._5)
      assert(curve.forall(v => v >= 0L && v <= 1000000L))
      assert(curve.zip(curve.tail).forall { case (a, b) => b <= a })
    }
    // independent driver-side KM from the same subject table
    val cut = 1704326400000000L
    val subj = Tables.events(spark, sf)
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_type")
      .as[(Long, Long, String)].collect()
      .groupBy(_._1).toSeq.flatMap { case (u, rs) =>
        val s1 = rs.filter(_._3 == "signup").map(_._2).minOption
        s1.filter(_ < cut).map { s =>
          val p1 = rs.filter(r => r._3 == "purchase" && r._2 > s)
            .map(_._2).minOption
          val ev = p1.exists(_ < cut)
          val dur = if (ev) (p1.get - s) / 3600000000L
            else (cut - s) / 3600000000L
          (u % 2, dur, ev)
        }
      }
    assert(subj.count(!_._3) >= 3, "fixture lost its censored subjects")
    for ((v, rows) <- subj.groupBy(_._1)) {
      val durs = rows.map(r => (r._2, r._3))
      val evHours = durs.filter(_._2).map(_._1).distinct.sorted
      var sMicro = 1000000L
      val want = evHours.map { t =>
        val n = durs.count(_._1 >= t).toLong
        val dd = durs.count(r => r._1 == t && r._2).toLong
        sMicro = sMicro * (n - dd) / n
        (t, n, dd, sMicro)
      }
      val gotV = got.filter(_._1 == v).sortBy(_._2)
        .map(r => (r._2, r._3, r._4, r._5)).toSeq
      assert(gotV == want, s"variant $v")
      // a drop-censored "KM" disagrees — censoring genuinely binds
      if (rows.exists(!_._3)) {
        val kept = durs.filter(_._2)
        var sn = 1000000L
        val naive = evHours.map { t =>
          val n = kept.count(_._1 >= t).toLong
          val dd = kept.count(_._1 == t).toLong
          sn = sn * (n - dd) / n
          sn
        }
        assert(naive != want.map(_._4),
          s"variant $v: censoring changed nothing — fixture degenerate")
      }
    }
  }

  test("q234 permutation p-values equal a brute-force driver replication") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q234_permutation_test")(spark, sf)
      .select($"event_type", $"n_exceed", $"p_milli")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.nonEmpty)
    val byUser = Tables.events(spark, sf)
      .selectExpr("event_type", "user_id",
        "CAST(ROUND(value * 100) AS BIGINT) AS c")
      .as[(String, Long, Long)].collect()
      .groupBy(r => (r._1, r._2)).toSeq
      .map { case ((t, u), rs) => (t, u, rs.size.toLong, rs.map(_._3).sum) }
    def md5hex8(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    for ((t, rows) <- byUser.groupBy(_._1)) {
      def sums(side: Long => Boolean): (Long, Long) = {
        val sel = rows.filter(r => side(r._2))
        (sel.map(_._3).sum, sel.map(_._4).sum)
      }
      val (na0, sa0) = sums(_ % 2 == 0)
      val (nb0, sb0) = sums(_ % 2 != 0)
      val obsL = (BigInt(sa0) * nb0 - BigInt(sb0) * na0).abs
      var exceed = 0L
      for (rep <- 0 until 64) {
        def inA(u: Long): Boolean = md5hex8(s"$u:$rep:perm") < "80000000"
        val (na, sa) = sums(inA)
        val (nb, sb) = sums(u => !inA(u))
        val hit = na == 0 || nb == 0 ||
          (BigInt(sa) * nb - BigInt(sb) * na).abs *
            (BigInt(na0) * nb0) >= obsL * (BigInt(na) * nb)
        if (hit) exceed += 1
      }
      assert(got(t) == ((exceed, (1 + exceed) * 1000 / 65)), s"type $t")
    }
    // probative: the null must be non-degenerate — some replicates
    // exceed somewhere, and not everywhere
    assert(got.values.exists(_._1 > 0) && got.values.exists(_._1 < 64))
  }

  test("q237 backtest: errors accumulate and a perfect-forecast fixture scores zero") {
    import spark.implicits._
    val got = SparkEntry.queries("q237_forecast_backtest")(
      spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (t, n, mae, nmae, mase) =>
      assert(n > 10 && mae > 0 && nmae > 0, s"$t degenerate")
      assert(mase > 0 && mase < 5000, s"$t mase $mase implausible")
    }
    // a constant series is predicted exactly by both Holt and naive:
    // every error term must be zero (the scoring is genuinely
    // one-step-ahead — an off-by-one would produce phantom error)
    val const = (0 until 50).map(h => (h.toLong, 7L))
      .toDF("h", "v")
      .selectExpr("'t' AS event_type",
        "timestamp_micros(h * 3600000000) AS ts",
        "CAST(v AS DOUBLE) AS value", "h AS user_id",
        "h AS event_id")
    // reuse the registered computation shape via a temp view + the
    // fold directly: run the same pipeline on the synthetic frame
    val out = {
      val hourly = const
        .selectExpr("event_type",
          "unix_micros(ts) DIV 3600000000 AS hour_id",
          "CAST(ROUND(value * 100) AS LONG) AS cents")
        .groupBy($"event_type", $"hour_id")
        .agg(org.apache.spark.sql.functions.sum($"cents").as("y"))
        .orderBy($"hour_id")
        .as[(String, Long, Long)].collect()
      var l = hourly.head._3 * 1000000L
      var b = 0L
      var prev = l
      var sae, snae = 0L
      hourly.tail.foreach { case (_, _, yc) =>
        val y = yc * 1000000L
        sae += math.abs(y - (l + b)); snae += math.abs(y - prev)
        val lNew = (y + l + b) / 2L; b = (lNew - l + b) / 2L; l = lNew
        prev = y
      }
      (sae, snae)
    }
    assert(out == ((0L, 0L)), s"constant series scored $out")
  }

  test("q238 heavy hitters: MG superset guarantee holds under adversarial repartitioning") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val hh = SparkEntry.queries("q238_heavy_hitters")(spark, sf)
      .select($"tok").as[String].collect().toSet
    assert(hh.nonEmpty)
    val tokens = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split($"text", " ")).as("tok"))
      .where(org.apache.spark.sql.functions.length($"tok") > 0)
      .as[String]
    // every partition layout must surface every true heavy hitter in
    // its pass-1 candidate union — the pigeonhole guarantee, not luck
    val layouts = Seq(
      tokens.repartition(1),
      tokens.repartition(23),
      tokens.repartition(8, $"tok"),
      tokens.orderBy($"tok"), // fully clustered: worst case for MG
    )
    layouts.foreach { tk =>
      val cands = tk.mapPartitions(it => ops.Scale.misraGries(it, 200))
        .collect().toSet
      assert(hh.subsetOf(cands),
        s"lost heavy hitters: ${hh.diff(cands)}")
    }
    // and the MG step itself: a tiny-k summary on a skewed stream must
    // keep the majority item
    val stream = (Seq.fill(600)("hot") ++ (1 to 400).map(i => s"t$i"))
    val keep = ops.Scale.misraGries(
      new scala.util.Random(42).shuffle(stream).iterator, 5).toSet
    assert(keep.contains("hot"))
  }

  test("q181 store: point lookups read buckets, not the store (files-read ≪ total)") {
    val sf = "/root/testdata/sf0.001"
    // the registered query (re)builds the bucketed store
    SparkEntry.queries("q181_knn_graph_ann")(spark, sf).collect()
    val root = ops.Vectors.knnGraph.root(spark, sf)
    def filesReadVsTotal(path: String, idCol: String, ids: Seq[Long])
        : (Long, Long) = {
      val df = ops.Vectors
        .pointLookup(spark.read.parquet(path), idCol, ids)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, plan.toString.take(500))
      // the literal bucket list must reach the file index as a
      // PARTITION filter — row-level `isin` post-filtering would read
      // everything (the r11 `weak` finding)
      assert(scans.head.toString.contains("PartitionFilters: [b"),
        scans.head.toString.take(800))
      val read = scans.map(_.metrics("numFiles").value).sum
      val total = spark.read.parquet(path).inputFiles.length.toLong
      (read, total)
    }
    // a beam-hop-sized id set: ≤ |distinct buckets| files however big
    // the store is
    val ids = Seq(3L, 7L, 11L, 300L, 301L)
    for ((path, idCol) <- Seq((s"$root/emb", "vec_id"),
        (s"$root/adj", "src"))) {
      val (read, total) = filesReadVsTotal(path, idCol, ids)
      info(s"$idCol lookup: $read of $total files")
      assert(total > 20, s"store $path suspiciously small: $total files")
      assert(read <= ids.map(_ % ops.Vectors.lookupBuckets).distinct.size,
        s"$path read $read files for ${ids.length} ids")
      assert(read * 4 < total, s"$path read $read of $total — no pruning")
    }
  }

  test("q216 on real data: repetition and time bound both bind") {
    val sf = "/root/testdata/sf0.001"
    import spark.implicits._
    val noBound = ops.Sequence
      .matchPattern(Tables.events(spark, sf),
        funnel.copy(withinUs = Long.MaxValue / 4))
      .count()
    val got = SparkEntry.queries("q216_match_recognize")(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.length < noBound, "24h bound never binds at sf0.001")
    assert(got.exists(_._4 >= 2), "click+ repetition never binds")
    assert(got.forall(m => m._3 - m._2 <= 24L * 3600L * 1000000L))
  }
}
