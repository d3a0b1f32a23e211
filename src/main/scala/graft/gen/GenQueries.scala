package graft.gen

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Rng.{DensityMode, IntervalDist, JitterDist}

/** Generator-backed queries for the driver contract. Generator output
  * is not expressible as SQL over the driver's tables, so these entries
  * carry no oracleSql (contract escape hatch) — correctness is enforced
  * by GenSpec's structural invariants instead (SURVEY.md §5.2, §7.5.5).
  */
object GenQueries {

  /** The reference demo configuration (`main.py:4-38`), verbatim. */
  def demoSpec(n: Long): StreamSpec =
    StreamSpec(
      patterns = Patterns.generate(
        PatternSpec(
          nPatterns = 8, patternLength = 10, nTypes = 6,
          gapDist = IntervalDist.Uniform, gapLow = 3, gapHigh = 9,
          seed = 137L,
        )
      ),
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

  /** Exact-mode 40k demo stream reduced to its invariant fingerprint
    * (count / exact ratio / monotonicity / zero-gap placement) — the
    * FIXTURES.md §A.1 golden checks as one row.
    */
  private def genInvariants(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = StreamGen.exact(s, demoSpec(40000L))
    // adjacent-gap check as a distributed self-join on the dense seq
    // (prev row of seq is seq-1 by construction) — a partition-less
    // lag window would serialize the whole stream through one task;
    // seq 0 keeps a NULL gap via the left join, exactly as lag(1) did
    val prev = ev.select(($"seq" + 1).as("seq"), $"ts".as("prev_ts"))
    ev.join(prev, Seq("seq"), "left")
      .withColumn("gap", $"ts" - $"prev_ts")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(!$"is_pattern", 1L).otherwise(0L)).as("n_random"),
        sum(when($"is_pattern", 1L).otherwise(0L)).as("n_pattern"),
        sum(when($"gap" === 0, 1L).otherwise(0L)).as("n_zero_gaps"),
        sum(when($"gap" === 0 && !$"is_pattern", 1L).otherwise(0L))
          .as("zero_gaps_not_at_pattern"),
        sum(when($"gap" < 0, 1L).otherwise(0L)).as("monotone_violations"),
        min($"event_type").as("min_type"),
        max($"event_type").as("max_type"),
        max($"ts").as("ts_span"),
      )
  }

  /** Block-parallel 1M-event stream (the scale path): distributed fill +
    * two-pass prefix sum; the aggregate keeps Bench's timing honest
    * (full materialization, no windows). Reference baseline: 9.6 s
    * single-thread for the same N (BASELINE.md).
    */
  private def genBlock1m(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    StreamGen
      .block(s, demoSpec(1000000L))
      .groupBy($"is_pattern")
      .agg(
        count(lit(1)).as("n"),
        min($"ts").as("min_ts"),
        max($"ts").as("max_ts"),
        countDistinct($"event_type").as("n_types"),
      )
      .orderBy($"is_pattern")
  }

  /** Block-parallel 10M-event stream — gen_block_1m at 10× N, as a
    * timed proof of the closed-form schedule's flat scaling (SCALE.md:
    * each partition seeks its first block once with
    * `Layout.blocksFrom`, O(log), then walks the rest in O(1) per block,
    * so the plan — and the per-event cost — is the SAME at 10⁶ and 10⁷;
    * only the partition count grows). The bench row should read ~linear in N with zero
    * driver-side materialization: the reference's sequential generator
    * is 9.6 s/M, so this N would cost it ~96 s single-thread.
    */
  private def genBlock10m(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    StreamGen
      .block(s, demoSpec(10000000L))
      .groupBy($"is_pattern")
      .agg(
        count(lit(1)).as("n"),
        min($"ts").as("min_ts"),
        max($"ts").as("max_ts"),
        countDistinct($"event_type").as("n_types"),
      )
      .orderBy($"is_pattern")
  }

  /** Flagship end-to-end slice (SURVEY.md §7.3): generate the 40k demo
    * stream → tick→wall-clock projection → tumbling 60-tick window counts
    * by (event_type, is_pattern) → broadcast join of the pattern-type
    * dimension (how many patterns contain each type) → ordered result.
    * Touches generator core, window agg, broadcast join, and sort in one
    * plan.
    */
  private def flagship(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spec = demoSpec(40000L)
    val ev = StreamGen.exact(s, spec)
      .withColumn("bucket", expr("ts DIV 60"))
    val typeDim = spec.patterns
      .toDF(s)
      .select(explode($"types").as("event_type"), $"pattern_id")
      .groupBy($"event_type")
      .agg(countDistinct($"pattern_id").as("n_patterns_with_type"))
    ev.groupBy($"bucket", $"event_type", $"is_pattern")
      .agg(count(lit(1)).as("n"))
      .join(broadcast(typeDim), Seq("event_type"), "left")
      .select($"bucket", $"event_type", $"is_pattern", $"n",
        coalesce($"n_patterns_with_type", lit(0L))
          .as("n_patterns_with_type"))
      .orderBy($"bucket", $"event_type", $"is_pattern")
  }

  /** Pattern detection by sequence match — the inverse of generation and
    * the very workload the reference generates data FOR (`README.md:6`):
    * slide an L-wide frame over the type sequence and match it against
    * the pattern dictionary (literal array equality, no UDF). Labels
    * (`is_pattern`) are ground truth: every labeled instance must be
    * rediscovered; chance collisions on top are the false-positive rate.
    *
    * Plan shape (r9): CHUNKED OVERLAP, not a global window — a global
    * `Window.orderBy(seq)` serializes the whole stream through one
    * task, the one plan that cannot survive 100×. Instead the dense
    * seq domain splits into C-row chunks, each chunk's first L-1 rows
    * are REPLICATED into the previous chunk ("ghosts"), so every
    * L-window lives wholly inside one bounded group (≤ C+L-1 rows —
    * the q81-admissible bounded-by-grouping array shape); windows are
    * enumerated per chunk with codegen HOFs and counted only by the
    * chunk that OWNS their start seq, so the overlap never
    * double-counts. Parallelism scales with chunks; Round9Spec pins
    * the result ≡ the global-window formulation it replaced.
    */
  private def patternDetect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spec = demoSpec(40000L)
    val L    = spec.patterns.length
    val C    = 4096L
    val dict = spec.patterns.types.map(ts => array(ts.map(lit(_)): _*))
    val ev = StreamGen.exact(s, spec)
      .select($"seq", $"event_type", $"is_pattern")
    val own = ev.withColumn("chunk", expr(s"seq DIV $C"))
    val ghost = ev
      .filter($"seq" % C < (L - 1) && $"seq" >= C)
      .withColumn("chunk", expr(s"seq DIV $C - 1"))
    val winExpr = expr(
      s"""transform(
         |  sequence(1, size(rows) - ${L - 1}),
         |  i -> struct(
         |    rows[i-1].seq AS start_seq,
         |    transform(slice(rows, i, $L), r -> r.event_type) AS types,
         |    array_min(transform(slice(rows, i, $L),
         |      r -> CAST(r.is_pattern AS INT))) AS all_pattern))""".stripMargin)
    val windows = own
      .unionByName(ghost)
      .groupBy($"chunk")
      .agg(sort_array(collect_list(
        struct($"seq", $"event_type", $"is_pattern"))).as("rows"))
      .filter(size($"rows") >= L) // a shorter tail chunk holds no window
      .select($"chunk", explode(winExpr).as("w"))
      .filter(expr(s"w.start_seq DIV $C") === $"chunk")
    val isMatch = dict.map($"w.types" === _).reduce(_ || _)
    windows
      .withColumn("matched", isMatch)
      .agg(
        sum(when($"matched", 1L).otherwise(0L)).as("n_detected"),
        sum(when($"matched" && $"w.all_pattern" === 1, 1L).otherwise(0L))
          .as("n_true_instances"),
        sum(when($"matched" && $"w.all_pattern" =!= 1, 1L).otherwise(0L))
          .as("n_chance_matches"),
      )
  }

  /** Type-distribution drift profile (extension — the reference promises
    * drift in its header but never implements it, SURVEY.md §2.a): type
    * shares per drift-phase quarter. With the sin-weighted sampler each
    * type's share swings across phases; drift off would show ~1/6
    * everywhere.
    */
  private def driftProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spec = demoSpec(40000L).copy(
      randomRatio = 1.0, // isolate the drifting random-event population
      typeDriftAmp = 0.9,
      typeDriftPeriod = 8000.0,
    )
    StreamGen.exact(s, spec)
      .withColumn("phase", expr("(ts % 8000) DIV 2000"))
      .groupBy($"phase", $"event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn(
        "share",
        round($"n" / sum($"n").over(
          Window.partitionBy($"phase")), 4),
      )
      .orderBy($"phase", $"event_type")
  }

  /** Keyed multi-stream corpus (the events-table shape): 50 independent
    * streams × 10k events, generated fully distributed, reduced to
    * per-stream invariant stats. Parallelism scales with streams — the
    * 100 TB shape is millions of keys, each a partition-local sequence.
    */
  private def multiStream(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    StreamGen
      .multi(s, demoSpec(10000L), nStreams = 50)
      .groupBy($"stream_id")
      .agg(
        count(lit(1)).as("n"),
        sum(when(!$"is_pattern", 1L).otherwise(0L)).as("n_random"),
        max($"ts").as("span"),
        countDistinct($"event_type").as("n_types"),
      )
      .orderBy($"stream_id")
  }

  /** Keyed chunked pattern detection — gen_pattern_detect's
    * chunked-overlap plan grouped by (stream_id, chunk), the shape the
    * chunking was BUILT for: parallelism = streams × chunks, every
    * group bounded by C + L - 1 rows regardless of stream length, no
    * global or even per-stream ordering anywhere in the plan. Shared by
    * the 10M-row bench query below and Round10Spec's equivalence test
    * against the per-stream global-window formulation.
    */
  private[graft] def keyedDetect(
      s: SparkSession,
      spec: StreamSpec,
      nStreams: Long,
      C: Long = 4096L,
  ): DataFrame = {
    import s.implicits._
    val L = spec.patterns.length
    // Every window is EXACTLY L digits, so base-|types| packing of the
    // type sequence into one long is injective (leading zeros included)
    // and the 8-entry dictionary probe is a single integer `isin`
    // instead of 8 separate L-element array comparisons per window.
    // 6^10 ≈ 6.0e7 — far inside long range.
    val B = spec.nTypes.toLong
    val dictPacked = spec.patterns.types
      .map(_.foldLeft(0L)((a, t) => a * B + t))
    val ev = StreamGen.multi(s, spec, nStreams)
      .select($"stream_id", $"seq", $"event_type",
        $"is_pattern".cast("int").as("ip"))
    // Boundary rows land in BOTH their own chunk and the previous one
    // via a single explode — one generation pass. (The union-of-two-
    // subtrees formulation re-ran the whole 10M-event generator for the
    // ghost side: ~2× generate cost for < 0.1% extra rows.)
    val chunked = ev.select(
      $"stream_id", $"seq", $"event_type", $"ip",
      explode(
        when($"seq" % C < (L - 1) && $"seq" >= C,
          array(expr(s"seq DIV $C"), expr(s"seq DIV $C - 1")))
          .otherwise(array(expr(s"seq DIV $C")))).as("chunk"))
    // One lead() chain in ONE window spec per (stream, chunk) run:
    // packed = Σ lead(type, j)·B^(L-1-j), ap = least over lead(ip, j).
    // All L leads share a single Window operator pass over the sorted
    // run — no per-chunk array materialization, no per-window slice
    // re-aggregation (the previous collect_list + slice/aggregate HOF
    // formulation allocated an L-struct slice per window: measured
    // 12.7 s → this plan for the same 10M-event row). A window whose
    // tail crosses the run end yields NULL and is filtered with the
    // same start-in-chunk predicate that de-duplicates ghost rows.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"stream_id", $"chunk").orderBy($"seq")
    val pows = (0 until L).map(j =>
      Iterator.fill(L - 1 - j)(B).foldLeft(1L)(_ * _))
    val packedCol = (0 until L)
      .map(j => lead($"event_type", j).over(w).cast("long") * lit(pows(j)))
      .reduce(_ + _)
    val apCol = least((0 until L).map(j => lead($"ip", j).over(w)): _*)
    val windows = chunked
      .withColumn("p", packedCol)
      .withColumn("ap", apCol)
      .filter($"p".isNotNull && expr(s"seq DIV $C") === $"chunk")
    windows
      .withColumn("matched", $"p".isin(dictPacked: _*))
      .agg(
        sum(when($"matched", 1L).otherwise(0L)).as("n_detected"),
        sum(when($"matched" && $"ap" === 1, 1L).otherwise(0L))
          .as("n_true_instances"),
        sum(when($"matched" && $"ap" =!= 1, 1L).otherwise(0L))
          .as("n_chance_matches"),
      )
  }

  /** Pattern detection at the 10M-event scale: 1000 independent streams
    * × 10k events, generated distributed (gen_multi_stream's path) and
    * scanned by [[keyedDetect]] — the row that TIMES the parallelism
    * claim the chunked plan was built on. Wall-clock should sit near
    * gen_block_10m's (same event count, same generator core) plus one
    * bounded-group shuffle; a superlinear gap would mean the detect
    * plan serializes somewhere.
    */
  private def genDetect10m(s: SparkSession, d: String): DataFrame =
    keyedDetect(s, demoSpec(10000L), nStreams = 1000L)

  /** BYTE-EXACT numpy replay of `main.py`'s 40k demo via [[ParityStream]]
    * (the [[NumpyRng]] PCG64 port): the stream the reference itself
    * produces, bit-for-bit — NumpyParitySpec pins all 40k rows against
    * an executed-reference golden. This row is the fingerprint: counts,
    * final clock, and an order-sensitive xxhash64 checksum so any drift
    * anywhere in the 40k (ts, type, is_pattern) tuples changes output.
    */
  private def genParityDemo(s: SparkSession, d: String): DataFrame = {
    val spec = demoSpec(40000L).copy(patterns = ParityStream.patterns(
      PatternSpec(8, 10, 6, IntervalDist.Uniform, 5, 3, 9, 137L)))
    ParityStream.dataset(s, spec)
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(!col("is_pattern"), 1L).otherwise(0L)).as("n_random"),
        max(col("ts")).as("ts_span"),
        expr("bit_xor(xxhash64(seq, ts, event_type, is_pattern))")
          .as("stream_checksum"),
      )
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("gen_demo_invariants", genInvariants, None),
    QueryDef("gen_parity_demo", genParityDemo, None),
    QueryDef("gen_block_1m", genBlock1m, None),
    QueryDef("gen_block_10m", genBlock10m, None),
    QueryDef("gen_flagship_windows", flagship, None),
    QueryDef("gen_pattern_detect", patternDetect, None),
    QueryDef("gen_drift_profile", driftProfile, None),
    QueryDef("gen_multi_stream", multiStream, None),
    QueryDef("gen_detect_10m", genDetect10m, None),
  )
}
