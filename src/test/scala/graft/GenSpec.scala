package graft

import graft.gen._
import graft.gen.Rng.{DensityMode, IntervalDist, JitterDist}
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants from FIXTURES.md §A.1 — the `main.py` demo spec,
  * verified against the executed reference (SURVEY.md §5.2.2).
  */
class GenSpec extends AnyFunSuite {

  /** The exact `main.py:4-38` configuration. */
  private def demoSpec(n: Long = 40000L): StreamSpec = {
    val pats = Patterns.generate(
      PatternSpec(
        nPatterns = 8, patternLength = 10, nTypes = 6,
        gapDist = IntervalDist.Uniform, gapLow = 3, gapHigh = 9, seed = 137L,
      )
    )
    StreamSpec(
      patterns = pats,
      nTypes = 6,
      totalEvents = n,
      randomRatio = 0.7,
      patternJitterDist = JitterDist.Uniform,
      patternJitter = 2.0,
      randIntervalDist = IntervalDist.Poisson,
      randIntervalBase = 6,
      randJitterDist = JitterDist.Uniform,
      randJitter = 1.0,
      density = DensityMode.Sin(baseRate = 1.0, period = 8000.0, amp = 0.6),
      seed = 2025L,
    )
  }

  test("pattern set shape + gap bounds (eventstream.py:140-183)") {
    val p = demoSpec().patterns
    assert(p.nPatterns == 8 && p.length == 10)
    assert(p.types.flatten.forall(t => t >= 0 && t < 6))
    assert(p.gaps.forall(_.length == 9))
    assert(p.gaps.flatten.forall(g => g >= 3 && g <= 9))
  }

  test("exact mode invariants: count, exact ratio, monotone, zero-gaps") {
    val events = StreamGen.exactIterator(demoSpec()).toVector
    assert(events.length == 40000)
    val nRandom = events.count(!_.is_pattern)
    assert(nRandom == 28000, "random fraction must be exactly 0.7000")
    assert(events.map(_.seq) == (0L until 40000L).toVector)
    // monotone non-decreasing timestamps
    assert(events.sliding(2).forall(p => p(0).ts <= p(1).ts))
    // zero-gaps: exactly one per pattern instance, each at a pattern start
    val zeroGaps = events.sliding(2).toVector.filter(p => p(0).ts == p(1).ts)
    assert(zeroGaps.length == 1200, s"got ${zeroGaps.length} zero gaps")
    assert(zeroGaps.forall(p => p(1).is_pattern))
    assert(events.forall(e => e.event_type >= 0 && e.event_type < 6))
  }

  test("pattern instances replay a pattern's type vector contiguously") {
    val spec = demoSpec()
    val events = StreamGen.exactIterator(spec).toVector
    val patternTypeVectors = spec.patterns.types.map(_.toVector).toSet
    // contiguous runs of is_pattern=true events are whole instances (L=10)
    val runs = events.foldLeft(Vector.empty[Vector[Event]]) { (acc, e) =>
      if (!e.is_pattern) acc
      else if (acc.nonEmpty && acc.last.last.seq == e.seq - 1 &&
        acc.last.length < 10) acc.init :+ (acc.last :+ e)
      else acc :+ Vector(e)
    }
    assert(runs.length == 1200)
    assert(runs.forall(_.length == 10))
    assert(runs.forall(r => patternTypeVectors.contains(r.map(_.event_type))))
  }

  test("determinism: same seed → identical stream; different seed differs") {
    val a = StreamGen.exactIterator(demoSpec(5000)).toVector
    val b = StreamGen.exactIterator(demoSpec(5000)).toVector
    assert(a == b)
    val c = StreamGen
      .exactIterator(demoSpec(5000).copy(seed = 7L)).toVector
    assert(a != c)
  }

  test("block mode: same invariants, partition-count independent") {
    val spark = SparkTestSession.spark
    val spec = demoSpec(20000).copy(density = DensityMode.None)
    val p4 = StreamGen.block(spark, spec, partitions = 4).collect()
      .sortBy(_.seq)
    val p13 = StreamGen.block(spark, spec, partitions = 13).collect()
      .sortBy(_.seq)
    assert(p4.toVector == p13.toVector, "block mode must not depend on layout")
    assert(p4.length == 20000)
    assert(p4.count(!_.is_pattern) == 14000)
    assert(p4.sliding(2).forall(p => p(0).ts <= p(1).ts))
    // density off → block mode ≡ exact mode, byte for byte
    val ex = StreamGen.exactIterator(spec).toVector
    assert(p4.toVector == ex)
  }

  /** SHA-256 of a stream's rows in seq order, one `seq,ts,type,pattern`
    * line each.
    */
  private def digest(events: Seq[Event]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    events.sortBy(_.seq).foreach { e =>
      md.update(s"${e.seq},${e.ts},${e.event_type},${e.is_pattern}\n"
        .getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private lazy val densityRows: Map[Int, Vector[Event]] =
    Seq(1, 4, 13).map { p =>
      p -> StreamGen.block(SparkTestSession.spark, demoSpec(50000), p)
        .collect().sortBy(_.seq).toVector
    }.toMap

  test("block mode with Sin density: partition-count independent") {
    val p1 = densityRows(1)
    assert(densityRows(4) == p1, "4 partitions differ from 1")
    assert(densityRows(13) == p1, "13 partitions differ from 1")
    assert(p1.length == 50000)
    assert(p1.count(!_.is_pattern) == 35000)
    assert(p1.sliding(2).forall(p => p(0).ts <= p(1).ts))
  }

  test("block mode with Sin density: rows match the pinned digest") {
    // block(demoSpec(50000)) as generated before the schedule walk and
    // the Newton early stop: both must leave every byte unchanged
    assert(digest(densityRows(4)) ==
      "092b622fb0518e3777789797114b5f97d0e2fc057d1c8be3e5339c284cfea34e")
  }

  /** `expectedClock` as a plain 30-step Newton loop, kept verbatim as
    * the oracle for the early-stopping one; `iterates` records t after
    * every step.
    */
  private def clock30(spec: StreamSpec, s: Long,
      iterates: collection.mutable.ArrayBuffer[Double]): Double = {
    val density = spec.density
    density match {
      case DensityMode.None => s * spec.meanTicksPerEvent
      case DensityMode.Sin(baseRate, period, amp) =>
        val target = s * spec.meanTicksPerEvent
        val p      = math.max(1.0, period)
        val c      = amp * p / (2.0 * math.Pi)
        def bigF(t: Double): Double =
          baseRate * (t + c * (1.0 - math.cos(2.0 * math.Pi * t / p)))
        var t = target / math.max(1e-6, baseRate) // linear initial guess
        var i = 0
        while (i < 30) {
          val f  = bigF(t) - target
          val fp = Rng.densityScale(math.rint(t).toLong, density)
          t -= f / fp
          i += 1
          iterates += t
        }
        math.max(0.0, t)
    }
  }

  test("expectedClock ≡ the 30-step Newton loop on every block") {
    val variants = Seq(
      demoSpec(500000), // 21% of its blocks end in a 2-cycle
      demoSpec(40007).copy(
        density = DensityMode.Sin(baseRate = 1.0, period = 500.0, amp = 0.5)),
      demoSpec(100000).copy( // 1% repeat no iterate within 30 steps
        density = DensityMode.Sin(baseRate = 2.5, period = 3000.0, amp = 0.9)),
    )
    val bits = java.lang.Double.doubleToRawLongBits _
    val its  = collection.mutable.ArrayBuffer.empty[Double]
    var fixed, cycle, neither = 0
    for (spec <- variants) {
      Schedule.blocks(spec.totalEvents, spec.randomRatio, spec.patterns.length)
        .foreach { b =>
          its.clear()
          val want = clock30(spec, b.seqStart, its)
          val got  = spec.expectedClock(b.seqStart)
          assert(bits(got) == bits(want),
            s"block at seq ${b.seqStart}: $got vs $want in ${spec.density}")
          val steps = its.indices.drop(1)
          if (steps.exists(i => bits(its(i)) == bits(its(i - 1)))) fixed += 1
          else if (steps.drop(1).exists(i => bits(its(i)) == bits(its(i - 2))))
            cycle += 1
          else neither += 1
        }
    }
    // every way out of the loop is exercised: fixed point, 2-cycle, cap
    assert(fixed > 0 && cycle > 0 && neither > 0, s"$fixed $cycle $neither")
  }

  test("ratio edge cases: 0.0 (all pattern) and 1.0 (all random)") {
    val s0 = demoSpec(1000).copy(randomRatio = 0.0)
    val e0 = StreamGen.exactIterator(s0).toVector
    assert(e0.length == 1000 && e0.forall(_.is_pattern))
    val s1 = demoSpec(1000).copy(randomRatio = 1.0)
    val e1 = StreamGen.exactIterator(s1).toVector
    assert(e1.length == 1000 && e1.forall(!_.is_pattern))
  }

  test("truncation: N not a multiple of block layout still yields exactly N") {
    val e = StreamGen.exactIterator(demoSpec(40007)).toVector
    assert(e.length == 40007)
  }

  test("gap-sum twin ≡ fillBlock across jitter/interval/density variants") {
    // blockGapSum must consume the same RNG draw counters as fillBlock's
    // gap path for every spec shape, or pass-1 offsets silently diverge.
    val variants = Seq(
      demoSpec(5000),
      demoSpec(5000).copy(
        randIntervalDist = IntervalDist.Poisson,
        randJitterDist = JitterDist.Gaussian, randJitter = 0.4),
      demoSpec(5000).copy(
        randIntervalDist = IntervalDist.Uniform, randLow = 2, randHigh = 9,
        patternJitterDist = JitterDist.Laplace, patternJitter = 0.3),
      demoSpec(5000).copy(
        density = DensityMode.Sin(baseRate = 1.0, period = 500.0, amp = 0.5)),
    )
    for (spec <- variants) {
      val layout = Schedule.Layout(
        spec.totalEvents, spec.randomRatio, spec.patterns.length)
      var k = 0L
      while (k < layout.numBlocks) {
        val b = layout.blockAt(k)
        val approx = spec.expectedClock(b.seqStart)
        val filled = StreamGen.fillBlock(spec, b, approx).map(_._2).sum
        assert(StreamGen.blockGapSum(spec, b, approx) == filled,
          s"block $k of $spec")
        k += 1
      }
    }
  }
}

/** Distribution-level checks for the samplers (FIXTURES.md §A.3). */
class RngSpec extends AnyFunSuite {
  private def stream(seed: Long = 42) = new Rng.Stream(seed, 0)

  test("uniform mean/bounds") {
    val r = stream()
    val xs = Vector.fill(100000)(r.nextUniform())
    assert(xs.forall(x => x >= 0.0 && x < 1.0))
    assert(math.abs(xs.sum / xs.size - 0.5) < 0.01)
  }

  test("poisson mean ≈ λ") {
    val r = stream(1)
    val xs = Vector.fill(100000)(r.nextPoisson(6.0))
    val mean = xs.sum.toDouble / xs.size
    assert(math.abs(mean - 6.0) < 0.05, s"mean $mean")
  }

  test("geometric mean ≈ base (p = 1/base)") {
    val r = stream(2)
    val xs = Vector.fill(100000)(r.nextGeometric(1.0 / 6.0))
    val mean = xs.sum.toDouble / xs.size
    assert(xs.forall(_ >= 1))
    assert(math.abs(mean - 6.0) < 0.1, s"mean $mean")
  }

  test("gaussian moments") {
    val r = stream(3)
    val xs = Vector.fill(100000)(r.nextGaussian())
    val mean = xs.sum / xs.size
    val sd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / xs.size)
    assert(math.abs(mean) < 0.02 && math.abs(sd - 1.0) < 0.02)
  }

  test("laplace variance = 2b²") {
    val r = stream(4)
    val b = 2.0
    val xs = Vector.fill(200000)(r.nextLaplace(b))
    val mean = xs.sum / xs.size
    val v = xs.map(x => (x - mean) * (x - mean)).sum / xs.size
    assert(math.abs(mean) < 0.03, s"mean $mean")
    assert(math.abs(v - 2 * b * b) / (2 * b * b) < 0.05, s"var $v")
  }

  test("jitter clamps at minVal (eventstream.py:60)") {
    val r = stream(5)
    val xs = Vector.fill(10000)(
      Rng.jitter(2, Rng.JitterDist.Gaussian, 10.0, r, minVal = 1))
    assert(xs.forall(_ >= 1))
  }

  test("density: sin profile bounded below at 1e-6, periodic") {
    val m = Rng.DensityMode.Sin(1.0, 100.0, 0.6)
    assert(Rng.densityScale(25, m) > 1.0)  // peak quarter-period
    assert(Rng.densityScale(75, m) < 1.0)  // trough
    val strong = Rng.DensityMode.Sin(0.000001, 100.0, 0.99)
    (0L until 200L).foreach(t => assert(Rng.densityScale(t, strong) >= 1e-6))
    assert(math.abs(Rng.densityScale(10, m) - Rng.densityScale(110, m)) < 1e-9)
  }

  test("schedule is RNG-free and hits the target exactly") {
    val bs = Schedule.blocks(40000, 0.7, 10).toVector
    assert(bs.map(_.len).sum == 40000)
    assert(bs.filter(!_.isPattern).map(_.len).sum == 28000)
    assert(bs.count(_.isPattern) == 1200)
    // seqStart is consistent with cumulative lengths
    assert(bs.scanLeft(0L)(_ + _.len).init == bs.map(_.seqStart))
  }
}

/** Detection must rediscover every labeled pattern instance. */
class PatternDetectSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("gen_pattern_detect finds all 1200 labeled instances") {
    val spark = SparkTestSession.spark
    val row = SparkEntry.queries("gen_pattern_detect")(spark, "").first()
    val detected = row.getAs[Long]("n_detected")
    val trueInst = row.getAs[Long]("n_true_instances")
    assert(trueInst >= 1200L, s"labeled instances rediscovered: $trueInst")
    assert(detected >= trueInst)
    assert(row.getAs[Long]("n_chance_matches") == detected - trueInst)
  }
}

/** Type-distribution drift extension (reference promised, never shipped:
  * eventstream.py:7-8 vs :341).
  */
class DriftSpec extends org.scalatest.funsuite.AnyFunSuite {
  private def spec(amp: Double) = {
    val p = Patterns.generate(PatternSpec(nPatterns = 4, patternLength = 2,
      nTypes = 6, seed = 1))
    StreamSpec(patterns = p, nTypes = 6, totalEvents = 40000,
      randomRatio = 1.0, randIntervalDist = Rng.IntervalDist.Fixed,
      randIntervalBase = 1, seed = 9L,
      typeDriftAmp = amp, typeDriftPeriod = 8000.0)
  }

  private def phaseShare(amp: Double): Map[(Long, Int), Double] = {
    val evs = StreamGen.exactIterator(spec(amp)).toVector
    val byPhase = evs.groupBy(e => (e.ts % 8000) / 2000) // 4 phase buckets
    byPhase.flatMap { case (ph, es) =>
      es.groupBy(_.event_type).map { case (t, g) =>
        (ph, t) -> g.size.toDouble / es.size
      }
    }
  }

  test("drift off: every phase bucket stays near-uniform") {
    val s = phaseShare(0.0)
    s.values.foreach(v => assert(math.abs(v - 1.0 / 6) < 0.03))
  }

  test("drift on: type shares swing across phases, off: they don't") {
    val s = phaseShare(0.9)
    val swings = (0 until 6).map { t =>
      val shares = (0L until 4L).map(ph => s((ph, t)))
      shares.max - shares.min
    }
    assert(swings.forall(_ > 0.05), s"drift should move shares: $swings")
  }

  test("drift off is byte-identical to the pre-extension draw path") {
    // amp = 0 must reduce to floor(u*n): same uniform consumption, same
    // values — locked by the demo invariants elsewhere; here check the
    // sampler contract directly across the unit square
    (0 until 1000).foreach { i =>
      val u = i / 1000.0
      assert(StreamGen.sampleType(u, 12345L, 6, 0.0, 8000.0) ==
        math.floor(u * 6).toInt)
    }
  }
}

/** Keyed multi-stream generation: per-stream invariants + independence. */
class MultiStreamSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("every stream keeps the invariants; streams differ; deterministic") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val spec = GenQueries.demoSpec(2000L)
    val ds = StreamGen.multi(spark, spec, nStreams = 10, partitions = 8)
    val rows = ds.collect()
    assert(rows.length == 20000)
    val byStream = rows.groupBy(_.stream_id)
    assert(byStream.size == 10)
    byStream.values.foreach { evs =>
      val s = evs.sortBy(_.seq)
      assert(s.length == 2000)
      assert(s.count(!_.is_pattern) == 1400) // exact 0.7 per stream
      assert(s.sliding(2).forall(p => p(0).ts <= p(1).ts))
    }
    // streams are genuinely different sequences
    val sigs = byStream.values.map(_.sortBy(_.seq).take(50)
      .map(e => (e.ts, e.event_type)).toVector).toSet
    assert(sigs.size == 10)
    // deterministic across runs and partitionings
    val again = StreamGen.multi(spark, spec, 10, partitions = 3).collect()
    assert(again.sortBy(e => (e.stream_id, e.seq)).toVector ==
      rows.sortBy(e => (e.stream_id, e.seq)).toVector)
  }
}
