package graft.gen

/** The ratio controller's decision sequence (`eventstream.py:388-402`),
  * inverted into a precomputable schedule.
  *
  * Key observation (SURVEY.md §2.a op #8c): the reference's greedy
  * controller decides "random event or pattern instance?" from the running
  * counters ONLY — never from sampled values — so the full block layout of
  * a stream is a pure function of (totalEvents, randomRatio, patternLen).
  * That is what makes the generator parallelizable: blocks get independent
  * RNG substreams and executors fill them without any sequential
  * dependency except the final timestamp prefix-sum.
  *
  * Decision rule replicated exactly: insert a random event iff
  * `(ratio_now < random_ratio OR n_pattern + L > target_pattern) AND
  *  n_random < target_random`, else a whole pattern instance, truncated at
  * N (`eventstream.py:363-364,393-401`); `target_random =
  * rint(N * ratio)` uses half-even rounding to match Python `round`
  * (`eventstream.py:300-302`).
  */
object Schedule {

  /** One contiguous run of events: a single random event (len=1) or one
    * pattern instance (len<=patternLen, truncated at stream end).
    *
    * @param seqStart    global emission index of the block's first event
    * @param len         number of events in the block
    * @param isPattern   pattern instance vs random event
    * @param afterPattern true when the previous block was a pattern
    *                     instance — the reference rests one tick after
    *                     each pattern (`eventstream.py:383-385`), which
    *                     shifts this block's first gap by +1
    */
  final case class Block(
      seqStart: Long,
      len: Int,
      isPattern: Boolean,
      afterPattern: Boolean,
  )

  def targetRandom(totalEvents: Long, randomRatio: Double): Long =
    math.rint(totalEvents * randomRatio).toLong

  /** Closed-form random-access view of the same schedule: `blockAt(k)`
    * in O(log #blocks), no iteration, no driver materialization — the
    * planetary-N path (`spark.range(numBlocks)` can map any index to its
    * block on any executor). Structure exploited:
    *
    *  - interleave phase: before pattern m the controller has inserted
    *    `R(m)` randoms, where R(m) is the smallest x (capped at
    *    targetRandom) whose running ratio x/(x+mL) reaches `ratio` under
    *    the loop's own double arithmetic — computed by a candidate
    *    `ceil(r·mL/(1-r))` plus a short predicate walk, so every
    *    floating-point edge matches the iterative controller exactly;
    *  - M = ⌊targetPattern/L⌋ full patterns fit the interleave budget
    *    (`nP + L > tP` forces randoms after that, `eventstream.py:394`);
    *  - tail: the remaining randoms up to targetRandom, then unconditional
    *    pattern instances truncated at N.
    *
    * Equivalence with the controller's recurrence (`blocksFrom`) is
    * property-tested across ratios, lengths, and adversarial rounding
    * cases (ScheduleSpec).
    */
  final case class Layout(
      totalEvents: Long,
      randomRatio: Double,
      patternLen: Int,
  ) {
    private val tR = targetRandom(totalEvents, randomRatio)
    private val tP = totalEvents - tR
    private val L  = patternLen.toLong

    /** Full interleave patterns (pattern m insertable iff (m+1)L <= tP). */
    private val mFull: Long = tP / L

    /** Tail pattern count (unconditional, last one truncated at N). */
    private val tailPatterns: Long = {
      val tailEvents = totalEvents - tR - mFull * L
      (tailEvents + L - 1) / L
    }

    val numPatternBlocks: Long = mFull + tailPatterns
    val numBlocks: Long        = tR + numPatternBlocks

    /** ratio_now >= ratio test, in exactly the loop's arithmetic. */
    private def reached(x: Long, m: Long): Boolean =
      x.toDouble / math.max(1L, x + m * L).toDouble >= randomRatio

    /** Randoms inserted before pattern m (0-indexed). */
    def randomsBefore(m: Long): Long = {
      if (m >= mFull) return tR // tail patterns: all randoms spent
      if (randomRatio <= 0.0) return 0L
      if (m == 0L) return math.min(tR, 1L) // 0/1 < r → exactly one random
      val est =
        math.ceil(randomRatio * m * L / (1.0 - randomRatio)).toLong
      var x = math.max(0L, est - 2)
      while (!reached(x, m)) x += 1
      // The estimate's FP error is <2 for every tested N, but grows with
      // m·L; walk back down so the MINIMAL satisfying x is returned even
      // if the start point ever lands above it (≡ the iterative
      // controller by construction, not by error bound).
      while (x > 0 && reached(x - 1, m)) x -= 1
      math.min(tR, x)
    }

    /** Global block position of pattern m. */
    private def patternPos(m: Long): Long = randomsBefore(m) + m

    /** Patterns strictly before block index k (binary search on the
      * increasing patternPos).
      */
    private def patternsBefore(k: Long): Long = {
      var lo = 0L
      var hi = numPatternBlocks
      while (lo < hi) {
        val mid = (lo + hi) / 2
        if (patternPos(mid) < k) lo = mid + 1 else hi = mid
      }
      lo
    }

    /** Block k: the seek of [[blocksFrom]] and one step of the walk. */
    def blockAt(k: Long): Block = {
      require(k >= 0 && k < numBlocks, s"block $k of $numBlocks")
      blocksFrom(k).next()
    }

    /** Lazy block iterator from block k on: the controller's own
      * recurrence, O(1) state and O(1) per block, started from the state
      * it has reached at block k — `nRandom = k − patternsBefore(k)`,
      * `nPattern = patternsBefore(k)·L` (every pattern before the last
      * block is full length) and whether block k−1 was a pattern. The
      * seek costs one O(log) `patternsBefore`, so a partition of
      * contiguous block indices seeks once and then walks. Exact mode
      * streams `blocksFrom(0)`.
      */
    def blocksFrom(k: Long): Iterator[Block] = {
      require(k >= 0 && k <= numBlocks, s"block $k of $numBlocks")
      val before = patternsBefore(k)
      val prevIsPattern = before > 0 && patternPos(before - 1) == k - 1
      new Walk(k - before, before * L, prevIsPattern)
    }

    /** Blocks at a run of block indices: the first index and any index
      * that does not follow its predecessor seek with [[blocksFrom]],
      * every other one advances the walk by one block.
      */
    def cursor(): Long => Block = new (Long => Block) {
      private var walk: Iterator[Block] = Iterator.empty
      private var nextK = -1L
      def apply(k: Long): Block = {
        if (k != nextK) walk = blocksFrom(k)
        nextK = k + 1
        walk.next()
      }
    }

    private final class Walk(
        private var nRandom: Long,
        private var nPattern: Long,
        private var prevWasPattern: Boolean,
    ) extends Iterator[Block] {
      def hasNext: Boolean = nRandom + nPattern < totalEvents

      def next(): Block = {
        val emitted  = nRandom + nPattern
        val ratioNow = nRandom.toDouble / math.max(1L, emitted)
        val insertRandom =
          (ratioNow < randomRatio || nPattern + patternLen > tP) &&
            nRandom < tR
        val b =
          if (insertRandom) {
            nRandom += 1
            Block(emitted, 1, isPattern = false, afterPattern = prevWasPattern)
          } else {
            val len = math.min(L, totalEvents - emitted).toInt
            nPattern += len
            Block(emitted, len, isPattern = true, afterPattern = prevWasPattern)
          }
        prevWasPattern = b.isPattern
        b
      }
    }
  }

  /** The whole schedule in emission order ≡ `Layout.blocksFrom(0)`. */
  def blocks(
      totalEvents: Long,
      randomRatio: Double,
      patternLen: Int,
  ): Iterator[Block] =
    Layout(totalEvents, randomRatio, patternLen).blocksFrom(0)
}
