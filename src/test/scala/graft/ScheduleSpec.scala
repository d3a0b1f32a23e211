package graft

import graft.gen.Schedule
import org.scalatest.funsuite.AnyFunSuite

/** The closed-form Layout must reproduce the iterative controller
  * block-for-block — including every floating-point edge of the ratio
  * test — across ratios, pattern lengths, and sizes.
  */
class ScheduleSpec extends AnyFunSuite {

  private val ratios =
    Seq(0.0, 0.001, 0.1, 1.0 / 3.0, 0.5, 0.7, 2.0 / 3.0, 0.9, 0.999, 1.0)
  private val lens  = Seq(2, 3, 7, 10, 17)
  private val sizes = Seq(1L, 2L, 17L, 1000L, 40007L)

  test("closed-form blockAt ≡ iterative blocks() on a config grid") {
    for (r <- ratios; l <- lens; n <- sizes) {
      val iter   = Schedule.blocks(n, r, l).toVector
      val layout = Schedule.Layout(n, r, l)
      assert(layout.numBlocks == iter.length,
        s"block count n=$n r=$r L=$l: ${layout.numBlocks} vs ${iter.length}")
      iter.zipWithIndex.foreach { case (b, k) =>
        val c = layout.blockAt(k)
        assert(c == b, s"n=$n r=$r L=$l block $k: closed=$c iter=$b")
      }
    }
  }

  test("blocksFrom(k) resumes the recurrence at block k") {
    // the seek rebuilds the controller's counters from the closed form;
    // checked where each phase begins and ends, incl. a truncated tail
    val rnd = new scala.util.Random(4L)
    var truncatedTails = 0
    for (r <- ratios; l <- lens; n <- sizes) {
      val iter   = Schedule.blocks(n, r, l).toVector
      val layout = Schedule.Layout(n, r, l)
      val nb     = iter.length.toLong
      val mFull  = (n - Schedule.targetRandom(n, r)) / l
      val patIdx = iter.indices.filter(iter(_).isPattern)
      val firstTail = if (mFull == 0) 0L else patIdx(mFull.toInt - 1) + 1L
      if (iter.last.isPattern && iter.last.len < l) truncatedTails += 1
      val ks = (Seq(0L, 1L, firstTail, nb - 1) ++
        Seq.fill(20)(rnd.nextLong(nb))).filter(k => k >= 0 && k < nb)
      ks.foreach { k =>
        assert(layout.blocksFrom(k).toVector == iter.drop(k.toInt),
          s"n=$n r=$r L=$l from block $k")
      }
      assert(layout.blocksFrom(nb).isEmpty)
      // the cursor walks runs of indices and seeks again on every jump
      val at = layout.cursor()
      val run = ((0L until 5L) ++ (nb / 2 until nb / 2 + 5) ++ (2L until 4L))
        .filter(_ < nb)
      run.foreach(k => assert(at(k) == iter(k.toInt), s"cursor at $k"))
    }
    assert(truncatedTails > 0, "grid must include a truncated last pattern")
  }

  test("randomsBefore returns the MINIMAL satisfying count, incl. huge N") {
    // The closed form estimates a start point and walks the ratio
    // predicate; if the FP estimate ever overshoots, a non-minimal x
    // would silently shift every later block. Re-derive the predicate
    // here and check x-1 fails it, at bench sizes AND at N where the
    // estimate's absolute FP error is largest.
    for {
      n <- Seq(40007L, 1000000000000L, 100000000000000000L) // up to 1e17
      r <- Seq(0.1, 1.0 / 3.0, 0.5, 0.7, 0.999)
      l <- Seq(2, 10)
    } {
      val layout = Schedule.Layout(n, r, l)
      val tR = Schedule.targetRandom(n, r)
      def reached(x: Long, m: Long): Boolean =
        x.toDouble / math.max(1L, x + m * l.toLong).toDouble >= r
      val mMax = (n - tR) / l
      val probes = Seq(1L, 2L, 3L, mMax / 3, mMax / 2, mMax - 1)
        .filter(m => m > 0 && m < mMax).distinct
      probes.foreach { m =>
        val x = layout.randomsBefore(m)
        assert(x <= tR)
        if (x < tR) {
          assert(reached(x, m), s"n=$n r=$r L=$l m=$m: x=$x not reached")
          if (x > 0)
            assert(!reached(x - 1, m),
              s"n=$n r=$r L=$l m=$m: x=$x not minimal")
        }
      }
    }
  }

  test("closed-form is O(log) random access at planetary N") {
    // 1e12 events would need ~7e11 iterative steps; closed form answers
    // arbitrary probes immediately and self-consistently
    val layout = Schedule.Layout(1000000000000L, 0.7, 10)
    val probes = Seq(0L, 1L, 12345678L, layout.numBlocks / 2,
      layout.numBlocks - 2, layout.numBlocks - 1)
    val bs = probes.map(layout.blockAt)
    // seq coverage: every block starts where expected relative to kind mix
    bs.foreach { b =>
      assert(b.seqStart >= 0 && b.seqStart < 1000000000000L)
      assert(b.len >= 1 && b.len <= 10)
    }
    // exact global ratio is preserved by construction
    val last = layout.blockAt(layout.numBlocks - 1)
    assert(last.seqStart + last.len == 1000000000000L)
  }
}
