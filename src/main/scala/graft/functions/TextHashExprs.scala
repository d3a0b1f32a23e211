package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass primitive kernels for text sketching.
  *
  * Profiling (round 2, sf0.1) showed the minhash pipeline's
  * wall-clock is dominated by SKETCH CONSTRUCTION, not by the LSH joins:
  * the higher-order-function formulation (split → transform → concat_ws →
  * xxhash64 → array_distinct, then 32 more interpreted passes for the
  * signature) is evaluated lambda-by-lambda per gram. These expressions
  * collapse that to one tight JVM loop per row — hash values are
  * BIT-IDENTICAL to the HOF form (same Spark `xxhash64`, seed 42, same
  * seed chaining), locked by TextHashSpec.
  */
object TextHash extends Serializable {

  /** Distinct xxhash64 values of the w-word shingles of `text`, splitting
    * on single spaces (empty tokens kept, as Spark's `split` does). Docs
    * with fewer than `w` words yield one shingle = the whole text — the
    * HOF form raised an ANSI element_at error there; this matches the
    * natural definition instead.
    */
  def shingleHashes(text: UTF8String, w: Int): ArrayData = {
    val words = text.toString.split(" ", -1)
    val n     = words.length
    val nGrams = math.max(n - w, 0) + 1
    val seen = new java.util.LinkedHashSet[java.lang.Long](nGrams * 2)
    val sb   = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nGrams) {
      sb.setLength(0)
      var k = 0
      val end = math.min(i + w, n)
      var j = i
      while (j < end) {
        if (k > 0) sb.append(' ')
        sb.append(words(j))
        k += 1
        j += 1
      }
      val g = UTF8String.fromString(sb.toString)
      seen.add(XxHash64Function.hash(g, StringType, 42L))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it  = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** Per-permutation seeds equal to Spark's `xxhash64(lit(i), h)` prefix:
    * seed_i = hash(i: int, seed = 42).
    */
  def permutationSeeds(numHashes: Int): Array[Long] = {
    val seeds = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      seeds(i) =
        XxHash64Function.hash(i, org.apache.spark.sql.types.IntegerType, 42L)
      i += 1
    }
    seeds
  }

  /** 64-bit SimHash: per bit, majority vote of the token-hash bits
    * (`2·count > nTokens`), tokens hashed with Spark's xxhash64 (seed 42)
    * — bit-identical to the SWAR HOF twin in `ops.Dedup.simhash64Swar`
    * for docs within its 65535-token counter range, and exact for ANY
    * length here (int counters overflow at 2³¹ tokens ≈ a 10 GB single
    * document, which the row format cannot hold anyway).
    */
  def simhash64(text: UTF8String): Long = {
    val tokens = text.toString.split(" ", -1)
    val counts = new Array[Int](64)
    var i = 0
    while (i < tokens.length) {
      val h = XxHash64Function.hash(
        UTF8String.fromString(tokens(i)), StringType, 42L)
      var b = 0
      while (b < 64) {
        counts(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    val n = tokens.length
    var key = 0L
    var b = 0
    while (b < 64) {
      if (2L * counts(b) > n) key |= (1L << b)
      b += 1
    }
    key
  }

  /** MinHash signature: sig(i) = min over shingles h of hash(h, seed_i) —
    * ≡ `array_min(transform(sh, h => xxhash64(lit(i), h)))` with the
    * 32 interpreted array traversals fused into one loop.
    */
  def minhashSig(sh: ArrayData, seeds: Array[Long]): ArrayData = {
    val nH = seeds.length
    val nS = sh.numElements()
    val out = new Array[Long](nH)
    java.util.Arrays.fill(out, Long.MaxValue)
    var s = 0
    while (s < nS) {
      val h = sh.getLong(s)
      var i = 0
      while (i < nH) {
        val v = XxHash64Function.hash(h, LongType, seeds(i))
        if (v < out(i)) out(i) = v
        i += 1
      }
      s += 1
    }
    new GenericArrayData(out)
  }
}

/** `text_shingle_hashes(text)` — see [[TextHash.shingleHashes]]. */
case class WordShingleHashes(child: Expression, w: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"text_shingle_hashes expects STRING, got ${other.simpleString}")
    }

  override def nullSafeEval(t: Any): Any =
    TextHash.shingleHashes(t.asInstanceOf[UTF8String], w)

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode,
  ): ExprCode = {
    val obj = ctx.addReferenceObj("textHash", TextHash,
      TextHash.getClass.getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $obj.shingleHashes($t, $w);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** `simhash64(text)` — see [[TextHash.simhash64]]. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash64 expects STRING, got ${other.simpleString}")
    }

  override def nullSafeEval(t: Any): Any =
    TextHash.simhash64(t.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode,
  ): ExprCode = {
    val obj = ctx.addReferenceObj("textHash", TextHash,
      TextHash.getClass.getName)
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $obj.simhash64($t);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** `minhash_sig(shingles)` — see [[TextHash.minhashSig]]. The permutation
  * seed array is derived once at plan-build time and shipped as a codegen
  * reference object (row-invariant work stays out of the row loop, same
  * principle as [[FloatVecLshBits]]).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  private val seeds: Array[Long] = TextHash.permutationSeeds(numHashes)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_sig expects ARRAY<BIGINT>, got ${other.simpleString}")
    }

  override def nullSafeEval(sh: Any): Any =
    TextHash.minhashSig(sh.asInstanceOf[ArrayData], seeds)

  override protected def doGenCode(
      ctx: CodegenContext,
      ev: ExprCode,
  ): ExprCode = {
    val obj = ctx.addReferenceObj("textHash", TextHash,
      TextHash.getClass.getName)
    val sd = ctx.addReferenceObj("mhSeeds", seeds, "long[]")
    nullSafeCodeGen(ctx, ev, sh => s"${ev.value} = $obj.minhashSig($sh, $sd);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

object TextHashExprs {

  /** Register both kernels in the session function registry (idempotent;
    * reachable from the Column API and SQL text alike).
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "text_shingle_hashes",
      exprs => {
        require(exprs.length == 2 && exprs(1).foldable,
          "text_shingle_hashes(text, w): w must be a literal")
        WordShingleHashes(exprs(0),
          FoldableArg.positiveInt(exprs(1), "text_shingle_hashes w"))
      },
      "built-in",
    )
    reg.createOrReplaceTempFunction(
      "simhash64",
      exprs => {
        require(exprs.length == 1, "simhash64(text)")
        SimHash64(exprs(0))
      },
      "built-in",
    )
    reg.createOrReplaceTempFunction(
      "minhash_sig",
      exprs => {
        require(exprs.length == 2 && exprs(1).foldable,
          "minhash_sig(shingles, numHashes): numHashes must be a literal")
        MinHashSignature(exprs(0),
          FoldableArg.positiveInt(exprs(1), "minhash_sig numHashes"))
      },
      "built-in",
    )
  }

  def shingleHashes(spark: SparkSession, text: Column, w: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function(
      "text_shingle_hashes", text, org.apache.spark.sql.functions.lit(w))
  }

  def simhash64(spark: SparkSession, text: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("simhash64", text)
  }

  def minhashSig(spark: SparkSession, sh: Column, numHashes: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function(
      "minhash_sig", sh, org.apache.spark.sql.functions.lit(numHashes))
  }
}
