package graft.gen

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import Rng.{DensityMode, IntervalDist, JitterDist}

/** One generated event (≡ the reference's three parallel arrays,
  * `eventstream.py:304-306`, plus the implicit array index as `seq`).
  * `ts` is an integer tick — logical time, not wall-clock
  * (`eventstream.py:2-3`); project onto TimestampType only at the
  * streaming/window boundary (SURVEY.md §7.5.4).
  */
final case class Event(
    seq: Long,
    ts: Long,
    event_type: Int,
    is_pattern: Boolean,
)

/** Full stream spec ≡ `EventStream.__init__`'s 18 parameters
  * (`eventstream.py:197-284`).
  */
final case class StreamSpec(
    patterns: PatternSet,
    nTypes: Int,
    totalEvents: Long,
    randomRatio: Double = 0.5,
    patternJitterDist: JitterDist = JitterDist.None,
    patternJitter: Double = 0.0,
    randIntervalDist: IntervalDist = IntervalDist.Fixed,
    randIntervalBase: Int = 5,
    randLow: Int = 1,
    randHigh: Int = 1,
    randJitterDist: JitterDist = JitterDist.None,
    randJitter: Double = 0.0,
    density: DensityMode = DensityMode.None,
    seed: Long = 2025L,
    typeDriftAmp: Double = 0.0,
    typeDriftPeriod: Double = 8000.0,
) {
  require(
    randomRatio >= 0.0 && randomRatio <= 1.0,
    "random_ratio must be in [0, 1]", // eventstream.py:223
  )

  /** Expected base interval (before density scaling) — drives block
    * mode's expected-clock recurrence (SURVEY.md §4.3).
    */
  def meanBase: Double = randIntervalDist match {
    case IntervalDist.Fixed     => math.max(1, randIntervalBase).toDouble
    case IntervalDist.Poisson   => math.max(1.0, randIntervalBase.toDouble)
    case IntervalDist.Geometric => math.max(1, randIntervalBase).toDouble
    case IntervalDist.Uniform   => (randLow + randHigh) / 2.0
  }

  /** Mean gap inside pattern instances (from the gap matrices). Computed
    * once per instance, on first use: block mode reads it for every block.
    * Transient, so neither equality nor the serialized spec changes.
    */
  @transient lazy val patternMeanGap: Double = {
    val g = patterns.gaps.flatten
    if (g.isEmpty) 1.0 else g.sum.toDouble / g.length
  }

  /** Mean ticks per event at unit rate (blend of random-event intervals
    * and pattern gaps incl. the zero first-gap and +1 rest).
    */
  @transient lazy val meanTicksPerEvent: Double = {
    val l = math.max(2, patterns.length)
    randomRatio * meanBase +
      (1.0 - randomRatio) * ((l - 1) * patternMeanGap + 1.0) / l
  }

  /** Expected clock t̂ at event index s — closed form, computable on any
    * executor: invert s(t) = F(t)/μ where F(t) = ∫₀ᵗ r(u) du and μ is
    * meanTicksPerEvent. Captures the density feedback (events cluster
    * where the rate is high) without any sequential driver pass: for Sin,
    * F has a closed form and t̂ comes from a few Newton steps on the
    * strictly-increasing F (r ≥ 1e-6). Density None is exact linear.
    *
    * Newton runs at most 30 steps. Each step is a pure function of the
    * iterate, so once an iterate repeats the rest of the sequence is
    * known: at a fixed point every later step returns it, and in a
    * 2-cycle step 30 lands on the member of matching parity. Stopping
    * there returns bit for bit what the 30th step would (GenSpec keeps
    * the 30-step loop to compare against); most blocks reach a fixed
    * point within 3–9 steps.
    */
  def expectedClock(s: Long): Double = density match {
    case DensityMode.None => s * meanTicksPerEvent
    case DensityMode.Sin(baseRate, period, amp) =>
      val target = s * meanTicksPerEvent
      val p      = math.max(1.0, period)
      val c      = amp * p / (2.0 * math.Pi)
      def bigF(t: Double): Double =
        baseRate * (t + c * (1.0 - math.cos(2.0 * math.Pi * t / p)))
      def same(a: Double, b: Double): Boolean =
        java.lang.Double.doubleToRawLongBits(a) ==
          java.lang.Double.doubleToRawLongBits(b)
      var t    = target / math.max(1e-6, baseRate) // linear initial guess
      var prev = t
      var i    = 0
      while (i < 30) {
        val f    = bigF(t) - target
        val fp   = Rng.densityScale(math.rint(t).toLong, density)
        val next = t - f / fp
        i += 1
        if (same(next, t)) return math.max(0.0, t) // fixed point
        if (i > 1 && same(next, prev)) // 2-cycle: step i landed on next
          return math.max(0.0, if ((30 - i) % 2 == 0) next else t)
        prev = t
        t = next
      }
      math.max(0.0, t)
  }
}

/** The stream generator (≡ `EventStream._generate_stream`,
  * `eventstream.py:288-409`) in two modes:
  *
  *  - '''exact''': one sequential pass, faithful to every reference
  *    semantic — zero first-gap at pattern starts (`:357-360`), per-gap
  *    jitter (`:366-373`), density divided at the true running clock
  *    (`:331-337,374-381`), +1 tick rest after each pattern (`:383-385`),
  *    truncation at N (`:363-364`). Runs as a single-partition flatMap on
  *    an executor (the reference itself is single-thread at ~100k ev/s;
  *    this loop does >10M ev/s).
  *
  *  - '''block''': the 100 TB path. The RNG-free schedule assigns every
  *    block an independent substream keyed by its seqStart; executors fill
  *    blocks embarrassingly parallel, then timestamps are fixed up with a
  *    two-pass per-partition prefix sum (no global single-partition
  *    window, no shuffle — one tiny collect of per-partition gap sums).
  *    Identical to exact mode except the density phase is evaluated at
  *    the expected clock `seq * meanGap` (bounded drift, documented) —
  *    with density off, block mode and exact mode produce byte-identical
  *    streams for the same seed regardless of partition count.
  */
object StreamGen {

  /** Random-event type sampling with optional time-varying distribution
    * drift — the half of "density (rate) and type distribution drift"
    * the reference PROMISES in its header comment (`eventstream.py:7-8`)
    * but never implements (its only type-sampling site is uniform,
    * `eventstream.py:341`). Shipped here as a documented extension:
    * weight of type k at time t is `1 + amp·sin(2π(t/period + k/n))`
    * (phase-shifted per type, floored at 0.01), sampled by inverse CDF
    * from ONE uniform — with amp = 0 the walk degenerates to
    * `floor(u·n)`, exactly the uniform draw, so drift-off streams are
    * byte-identical to pre-extension output.
    */
  private[graft] def sampleType(
      u: Double,
      t: Long,
      nTypes: Int,
      amp: Double,
      period: Double,
  ): Int = {
    if (amp <= 0.0) return math.floor(u * nTypes).toInt.min(nTypes - 1)
    val w = Array.tabulate(nTypes) { k =>
      math.max(
        0.01,
        1.0 + amp * math.sin(
          2.0 * math.Pi * (t / math.max(1.0, period) + k.toDouble / nTypes)),
      )
    }
    val x = u * w.sum
    var cum = 0.0
    var k = 0
    while (k < nTypes - 1 && cum + w(k) <= x) { cum += w(k); k += 1 }
    k
  }

  /** Faithful sequential generator (shared by exact mode and tests).
    * Draws come from the same per-block substreams as block mode (keyed
    * on the block's seqStart), so with density off the two modes emit
    * byte-identical streams; the only exact-mode difference is that the
    * density phase sees the TRUE running clock.
    */
  def exactIterator(spec: StreamSpec): Iterator[Event] = {
    val pat = spec.patterns
    var t   = 0L
    var emitted = 0L

    Schedule
      .blocks(spec.totalEvents, spec.randomRatio, pat.length)
      .flatMap { b =>
        val rng = new Rng.Stream(spec.seed, stream = b.seqStart + 3L)
        if (b.afterPattern) t += 1L // rest tick, eventstream.py:383-385
        if (!b.isPattern) {
          val base = Rng.interval(spec.randIntervalBase, spec.randIntervalDist,
            rng, spec.randLow, spec.randHigh)
          val jit = Rng.jitter(base, spec.randJitterDist, spec.randJitter, rng)
          val r   = Rng.densityScale(t, spec.density)
          val gap = math.max(1L, math.rint(jit / r).toLong)
          t += gap
          val tpe = sampleType(rng.nextUniform(), t, spec.nTypes,
            spec.typeDriftAmp, spec.typeDriftPeriod)
          val ev = Event(emitted, t, tpe, is_pattern = false)
          emitted += 1
          Iterator.single(ev)
        } else {
          val p = rng.nextInt(0, pat.nPatterns - 1)
          val out = new Array[Event](b.len)
          var j = 0
          while (j < b.len) {
            if (j > 0) {
              val jit = Rng.jitter(pat.gaps(p)(j - 1), spec.patternJitterDist,
                spec.patternJitter, rng)
              val r   = Rng.densityScale(t, spec.density)
              t += math.max(1L, math.rint(jit / r).toLong)
            } // j == 0: first event shares the previous timestamp (zero gap)
            out(j) = Event(emitted, t, pat.types(p)(j), is_pattern = true)
            emitted += 1
            j += 1
          }
          out.iterator
        }
      }
  }

  /** Exact mode as a Dataset: the loop runs lazily on one executor. */
  def exact(spark: SparkSession, spec: StreamSpec): Dataset[Event] = {
    implicit val enc = Encoders.product[Event]
    spark.range(0, 1, 1, 1).flatMap(_ => exactIterator(spec))
  }

  /** Per-block fill: gaps + types only (timestamps need the global prefix
    * sum). Every draw is keyed on (seed, block seqStart, local counter) —
    * no sequential RNG state crosses a block boundary.
    */
  private[graft] def fillBlock(
      spec: StreamSpec,
      b: Schedule.Block,
      approxStart: Double,
  ): Array[(Long, Long, Int, Boolean)] = {
    val rng = new Rng.Stream(spec.seed, stream = b.seqStart + 3L)
    val pat = spec.patterns
    val lead = if (b.afterPattern) 1L else 0L
    val out = new Array[(Long, Long, Int, Boolean)](b.len)
    val stepGap = if (b.isPattern) spec.patternMeanGap else spec.meanBase
    val rateAtStart =
      Rng.densityScale(math.rint(approxStart).toLong, spec.density)
    def tApprox(localSeq: Long): Long =
      math.rint(approxStart + localSeq * stepGap / rateAtStart).toLong
    if (!b.isPattern) {
      val base = Rng.interval(spec.randIntervalBase, spec.randIntervalDist,
        rng, spec.randLow, spec.randHigh)
      val jit = Rng.jitter(base, spec.randJitterDist, spec.randJitter, rng)
      val r   = Rng.densityScale(tApprox(0), spec.density)
      val gap = math.max(1L, math.rint(jit / r).toLong)
      val tpe = sampleType(rng.nextUniform(), tApprox(0), spec.nTypes,
        spec.typeDriftAmp, spec.typeDriftPeriod)
      out(0) = (b.seqStart, lead + gap, tpe, false)
    } else {
      val p = rng.nextInt(0, pat.nPatterns - 1)
      var j = 0
      while (j < b.len) {
        val gap =
          if (j == 0) 0L // zero first-gap, eventstream.py:357-360
          else {
            val jit = Rng.jitter(pat.gaps(p)(j - 1), spec.patternJitterDist,
              spec.patternJitter, rng)
            val r = Rng.densityScale(tApprox(j), spec.density)
            math.max(1L, math.rint(jit / r).toLong)
          }
        out(j) = (b.seqStart + j, (if (j == 0) lead else 0L) + gap,
          pat.types(p)(j), true)
        j += 1
      }
    }
    out
  }

  /** Gap-only twin of [[fillBlock]]: the total gap a block contributes to
    * the running clock, without allocating the event tuples or sampling
    * types. Safe because the RNG is counter-based per block and the gap
    * draws (interval, jitter) are issued BEFORE the type draw, so the two
    * functions consume identical draw counters for identical gaps —
    * property-locked by GenSpec ("gap-sum twin ≡ fillBlock").
    */
  private[graft] def blockGapSum(
      spec: StreamSpec,
      b: Schedule.Block,
      approxStart: Double,
  ): Long = {
    val rng = new Rng.Stream(spec.seed, stream = b.seqStart + 3L)
    val pat = spec.patterns
    val lead = if (b.afterPattern) 1L else 0L
    val stepGap = if (b.isPattern) spec.patternMeanGap else spec.meanBase
    val rateAtStart =
      Rng.densityScale(math.rint(approxStart).toLong, spec.density)
    def tApprox(localSeq: Long): Long =
      math.rint(approxStart + localSeq * stepGap / rateAtStart).toLong
    if (!b.isPattern) {
      val base = Rng.interval(spec.randIntervalBase, spec.randIntervalDist,
        rng, spec.randLow, spec.randHigh)
      val jit = Rng.jitter(base, spec.randJitterDist, spec.randJitter, rng)
      val r   = Rng.densityScale(tApprox(0), spec.density)
      lead + math.max(1L, math.rint(jit / r).toLong)
    } else {
      val p = rng.nextInt(0, pat.nPatterns - 1)
      var s = lead
      var j = 1
      while (j < b.len) {
        val jit = Rng.jitter(pat.gaps(p)(j - 1), spec.patternJitterDist,
          spec.patternJitter, rng)
        val r = Rng.densityScale(tApprox(j), spec.density)
        s += math.max(1L, math.rint(jit / r).toLong)
        j += 1
      }
      s
    }
  }

  /** Block-parallel mode: closed-form schedule → `spark.range` over block
    * indices → parallel fill → two-pass prefix sum. NOTHING is
    * materialized on the driver — any executor maps any block index to
    * its block and to its expected clock (`StreamSpec.expectedClock`,
    * closed form), so the plan is the same at N=10⁶ and N=10¹². Range
    * partitions are contiguous index spans: each seeks its first block
    * once (`Schedule.Layout.blocksFrom`, O(log)) and walks the rest with
    * the controller's O(1) recurrence, and per-partition running gap sums
    * compose with one tiny offsets collect (one long per partition).
    *
    * Pass 1 is the gap-only [[blockGapSum]] sweep, pass 2 the full fill.
    * MEASURED (sf: 1M events, local[32], 2 runs each): recompute 1.85/1.92 s;
    * persist(MEMORY_AND_DISK_SER) 2.80/3.34 s; persist(MEMORY_AND_DISK)
    * 2.46/2.52 s — caching the filled tuples LOSES to recomputation, so
    * the two passes stay persist-free. Those runs paid ~7,500 ns of task
    * CPU per event, most of it two binary searches and 30 Newton steps
    * per block in each pass; with one seek per partition and Newton's
    * early stop both passes together cost ~1,300 ns per event (perfbench
    * gen_stream, 500k events, local[4] on 4 vCPUs), so recomputation only
    * gained on the cache.
    */
  def block(
      spark: SparkSession,
      spec: StreamSpec,
      partitions: Int = 0,
  ): Dataset[Event] = {
    val nPart =
      if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    val layout = Schedule.Layout(
      spec.totalEvents, spec.randomRatio, spec.patterns.length)
    val bcSpec = spark.sparkContext.broadcast(spec)
    val nRangeParts =
      math.min(nPart.toLong, math.max(1L, layout.numBlocks)).toInt
    val blockIdx = spark.sparkContext
      .range(0L, layout.numBlocks, 1, nRangeParts)

    // pass 1: total gap per partition via the gap-only sweep (no tuple
    // allocation, no type sampling); tiny collect: one long per partition
    val partSums = blockIdx
      .mapPartitionsWithIndex { (i, it) =>
        val spec  = bcSpec.value
        val at    = layout.cursor()
        var s = 0L
        it.foreach { k =>
          val b = at(k)
          s += blockGapSum(spec, b, spec.expectedClock(b.seqStart))
        }
        Iterator((i, s))
      }
      .collect()
      .sortBy(_._1)
      .map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _)

    // pass 2: full fill + partition-local running sum + broadcast offset
    val events = blockIdx.mapPartitionsWithIndex { (i, it) =>
      val spec = bcSpec.value
      val at   = layout.cursor()
      var t = offsets(i)
      it.flatMap { k =>
        val b = at(k)
        fillBlock(spec, b, spec.expectedClock(b.seqStart))
          .map { case (seq, gap, tpe, isPat) =>
            t += gap
            Event(seq, t, tpe, isPat)
          }
      }
    }
    implicit val enc = Encoders.product[Event]
    spark.createDataset(events)
  }

  /** One event of a keyed multi-stream corpus. */
  final case class KeyedEvent(
      stream_id: Long,
      seq: Long,
      ts: Long,
      event_type: Int,
      is_pattern: Boolean,
  )

  /** Many independent streams with the same spec (the `events`-table
    * shape: one sequence per user/device). Every stream gets its own RNG
    * substream family (seed xor'd per stream through the mixer), shares
    * the one RNG-free schedule, and is generated fully distributed:
    * `spark.range(nStreams × numBlocks)` maps any global index to
    * (stream, block) on any executor. Timestamps are a per-stream prefix
    * sum — a window partitioned by stream_id, so parallelism scales with
    * the number of streams and no stream ever crosses an executor
    * boundary mid-sum.
    */
  def multi(
      spark: SparkSession,
      spec: StreamSpec,
      nStreams: Long,
      partitions: Int = 0,
  ): Dataset[KeyedEvent] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, sum}
    val nPart =
      if (partitions > 0) partitions else spark.sparkContext.defaultParallelism
    val layout = Schedule.Layout(
      spec.totalEvents, spec.randomRatio, spec.patterns.length)
    val bcSpec = spark.sparkContext.broadcast(spec)
    val b      = layout.numBlocks
    val gaps = spark.sparkContext
      .range(0L, nStreams * b, 1, nPart)
      .mapPartitions { it =>
        // block index g % b restarts at 0 on each stream boundary, where
        // the cursor seeks afresh; the stream's spec is built once
        val at    = layout.cursor()
        var sid   = -1L
        var sSpec = bcSpec.value
        it.flatMap { g =>
          if (g / b != sid) {
            sid = g / b
            sSpec = bcSpec.value.copy(
              seed = Rng.mix64(bcSpec.value.seed ^ (sid + 0x5851F42D4C957F2DL)))
          }
          val blk = at(g % b)
          fillBlock(sSpec, blk, sSpec.expectedClock(blk.seqStart))
            .map { case (seq, gap, tpe, isPat) => (sid, seq, gap, tpe, isPat) }
        }
      }
    implicit val enc = Encoders.product[KeyedEvent]
    val df = spark.createDataFrame(
      gaps.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3, t._4, t._5)),
      org.apache.spark.sql.types.StructType.fromDDL(
        "stream_id LONG, seq LONG, gap LONG, event_type INT, " +
          "is_pattern BOOLEAN"),
    )
    val w = Window.partitionBy("stream_id").orderBy("seq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("ts", sum(col("gap")).over(w))
      .select(col("stream_id"), col("seq"), col("ts"), col("event_type"),
        col("is_pattern"))
      .as[KeyedEvent]
  }
}
