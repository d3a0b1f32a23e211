package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._

/** Vector similarity over `embeddings` (ARRAY<FLOAT>, 64-dim).
  *
  * Brute-force cosine is the exactness baseline (a single broadcast of
  * the query vector + one codegen'd projection — at 100 TB this is the
  * per-partition scan you compare ANN recall against); the scale path is
  * sign-LSH (random-hyperplane) bucketing, whose hyperplanes are derived
  * from counter-based hashes so the index is deterministic and
  * partition-independent. All arithmetic is double-precision built-in
  * higher-order functions — no UDFs.
  */
object Vectors {

  /** Σ aᵢ·bᵢ in double precision, left-to-right (stable across engines). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x,
    )

  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Exact top-k by cosine against one stored query vector. The query row
    * is a 1-row aggregate cross-joined (broadcast) — no driver collect.
    */
  def topKCosine(
      embeddings: DataFrame,
      queryVecId: Long,
      k: Int,
  ): DataFrame = {
    val spark = embeddings.sparkSession
    val q = embeddings
      .filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qe"))
    embeddings
      .filter(col("vec_id") =!= queryVecId)
      .join(broadcast(q))
      .select(
        col("vec_id"),
        col("label"),
        round(graft.functions.VectorExprs
          .vecCosine(spark, col("embedding"), col("qe")), 4).as("cos"),
      )
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Rademacher ±1 hyperplane matrix for one LSH table, flat row-major
    * (`bit * dims + dim`). Derived from the low bit of
    * `xxhash64(table, bit, dim)` — evaluated HERE, once, via the same
    * Catalyst expression the per-row formulation used, so bucket keys
    * are bit-identical to hashing inside the scan while costing zero
    * per-row hash work. No stored index: any driver rebuilds any plane.
    */
  private[ops] def hyperplaneSigns(
      table: Int,
      nBits: Int,
      dims: Int,
  ): Array[Double] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val out = new Array[Double](nBits * dims)
    var b = 0
    while (b < nBits) {
      var d = 0
      while (d < dims) {
        // seed 42L = the SQL `xxhash64` default, so keys match the
        // original per-row formulation bit-for-bit
        val h = XxHash64(Seq(Literal(table), Literal(b), Literal(d)), 42L)
          .eval(null).asInstanceOf[Long]
        out(b * dims + d) = if ((h & 1L) == 1L) 1.0 else -1.0
        d += 1
      }
      b += 1
    }
    out
  }

  /** Sign-LSH bucket key: `nBits` random-hyperplane signs in one fused
    * codegen loop over a plan-build-time sign matrix (see
    * [[hyperplaneSigns]] and `functions.FloatVecLshBits`).
    */
  def lshKey(
      spark: SparkSession,
      emb: Column,
      nBits: Int,
      table: Int,
      dims: Int = 64,
  ): Column =
    graft.functions.VectorExprs.vecLshBits(
      spark, emb, hyperplaneSigns(table, nBits, dims), nBits, dims)

  /** ANN candidate pairs via multi-table sign-LSH: `tables` independent
    * `nBits`-bit keys; a pair is a candidate if it collides in ANY table
    * (explode → bucket join → exact-cosine verify, never O(n²)).
    */
  def annPairs(
      embeddings: DataFrame,
      nBits: Int = 8,
      tables: Int = 4,
      minCosine: Double = 0.0,
  ): DataFrame = {
    val spark = embeddings.sparkSession
    // Bucketing works on SLIM (vec_id, tbl, bkey) rows — the 64-float
    // embedding would otherwise ride the explode and BOTH self-join
    // shuffles (8 copies of the fat column per vector at tables=4). The
    // vectors are joined back only for surviving candidate pairs, same
    // slim-banding shape as Dedup.minhashPairs.
    val keyed = embeddings.select(
      col("vec_id"),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("tbl"),
          lshKey(spark, col("embedding"), nBits, t).as("bkey"))): _*)).as("k"),
    ).select(col("vec_id"), col("k.tbl"), col("k.bkey"))
    val l = keyed.select(col("tbl"), col("bkey"), col("vec_id").as("a"))
    val r = keyed.select(col("tbl"), col("bkey"), col("vec_id").as("b"))
    val candidates = l.join(r, Seq("tbl", "bkey"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .dropDuplicates("a", "b")
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    candidates
      .join(vecs.select(col("vec_id").as("a"), col("embedding").as("ea")),
        "a")
      .join(vecs.select(col("vec_id").as("b"), col("embedding").as("eb")),
        "b")
      .withColumn("cos", round(graft.functions.VectorExprs
        .vecCosine(spark, col("ea"), col("eb")), 4))
      .filter(col("cos") >= minCosine)
      .select(col("a"), col("b"), col("cos"))
  }

  /** Approximate nearest neighbor per vector: best LSH candidate by
    * cosine (the scale path next to `topKCosine`'s exact scan).
    */
  def annTopNeighbor(
      embeddings: DataFrame,
      nBits: Int = 8,
      tables: Int = 4,
  ): DataFrame = {
    val pairs = annPairs(embeddings, nBits, tables, minCosine = -1.0)
    val sym = pairs.select(col("a").as("v"), col("b").as("nn"), col("cos"))
      .unionByName(
        pairs.select(col("b").as("v"), col("a").as("nn"), col("cos")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("v")
      .orderBy(col("cos").desc, col("nn"))
    sym.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("v"), col("nn"), col("cos"))
  }

  /** Deterministic IVF coarse centroids: a hash-stride sample (one
    * bounded pass — ~`sampleTarget` rows regardless of corpus size)
    * refined by `iters` spherical-k-means Lloyd steps on the driver.
    * Driver state is `nCells × dims` doubles + the sample; both are
    * CONSTANT in corpus size, so this is not a driver-side loop over
    * data — it is index construction, the one legitimately centralized
    * step of IVF (FAISS does the same on a training sample). Centroids
    * come out L2-normalized: argmax-dot ≡ argmax-cosine at assign time.
    */
  /** The shared trainer input: a deterministic hash-stride sample of
    * ~`sampleTarget` L2-normalized embeddings, collected once (the
    * bounded "index construction" collect) and reusable by both the IVF
    * coarse trainer and the PQ codebook trainer — q127 trains both from
    * ONE pass instead of re-scanning per trainer.
    */
  private[graft] def normalizedSample(
      embeddings: DataFrame,
      dims: Int,
      sampleTarget: Int = 2048,
  ): Array[Array[Double]] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val n = embeddings.count()
    val step = math.max(1L, n / sampleTarget)
    embeddings
      .filter(pmod(xxhash64(col("vec_id")), lit(step)) === 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .collect()
      .sortBy(_._1) // deterministic iteration order
      .map { case (_, v) =>
        // Pad/truncate to exactly `dims` (missing dims = 0), matching the
        // codegen kernels' min(numElements, dims) clamp — a short
        // embedding must not crash the Lloyd loops below.
        val a = java.util.Arrays.copyOf(v.map(_.toDouble).toArray, dims)
        val nrm = math.sqrt(a.map(x => x * x).sum)
        if (nrm > 0) a.map(_ / nrm) else a
      }
  }

  def ivfCentroids(
      embeddings: DataFrame,
      nCells: Int,
      dims: Int = 64,
      sampleTarget: Int = 2048,
      iters: Int = 5,
  ): Array[Double] =
    ivfCentroidsFrom(
      normalizedSample(embeddings, dims, sampleTarget), nCells, dims, iters)

  private[graft] def ivfCentroidsFrom(
      sample: Array[Array[Double]],
      nCells: Int,
      dims: Int,
      iters: Int = 5,
  ): Array[Double] = {
    require(sample.length >= nCells,
      s"IVF sample ${sample.length} smaller than nCells $nCells")

    // init: evenly strided over the (vec_id-sorted) sample
    var cents = Array.tabulate(nCells)(c =>
      sample((c.toLong * sample.length / nCells).toInt).clone())
    def assign(v: Array[Double]): Int = {
      var best = 0; var bestDot = Double.NegativeInfinity
      var c = 0
      while (c < nCells) {
        var dot = 0.0; var d = 0
        while (d < dims) { dot += v(d) * cents(c)(d); d += 1 }
        if (dot > bestDot) { bestDot = dot; best = c }
        c += 1
      }
      best
    }
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](nCells, dims)
      val cnt  = new Array[Int](nCells)
      sample.foreach { v =>
        val c = assign(v); cnt(c) += 1
        var d = 0
        while (d < dims) { sums(c)(d) += v(d); d += 1 }
      }
      cents = Array.tabulate(nCells) { c =>
        if (cnt(c) == 0) cents(c) // empty cell keeps its centroid
        else {
          val m = sums(c).map(_ / cnt(c))
          val nrm = math.sqrt(m.map(x => x * x).sum)
          if (nrm > 0) m.map(_ / nrm) else m
        }
      }
      it += 1
    }
    cents.flatten
  }

  /** Embeddings with their IVF cell id. At corpus scale the index is
    * this DataFrame written `partitionBy("cell")` — a probe then prunes
    * to `nProbe` partitions at the SCAN (partition pruning), which is the
    * IVF win: the un-probed 100 TB is never read.
    */
  def ivfIndex(
      embeddings: DataFrame,
      cents: Array[Double],
      nCells: Int,
      dims: Int = 64,
  ): DataFrame = {
    val spark = embeddings.sparkSession
    embeddings.withColumn(
      "cell",
      element_at(graft.functions.VectorExprs
        .vecTopCells(spark, col("embedding"), cents, nCells, dims, 1), 1),
    )
  }

  /** Approximate top-k by cosine through the IVF index: the query row's
    * `nProbe` nearest cells are computed with the same kernel (broadcast,
    * no driver collect of the query vector), candidates are the vectors
    * in those cells only, then exact cosine + TakeOrdered. `nProbe =
    * nCells` degenerates to the exact scan — PipelineSpec locks that
    * equivalence and the recall at partial probes.
    */
  def ivfTopK(
      embeddings: DataFrame,
      queryVecId: Long,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      dims: Int = 64,
  ): DataFrame = {
    val spark = embeddings.sparkSession
    val cents = ivfCentroids(embeddings, nCells, dims)
    val q = embeddings
      .filter(col("vec_id") === queryVecId)
      .select(
        col("embedding").as("qe"),
        graft.functions.VectorExprs
          .vecTopCells(spark, col("embedding"), cents, nCells, dims, nProbe)
          .as("qcells"),
      )
    ivfIndex(embeddings.filter(col("vec_id") =!= queryVecId), cents, nCells,
      dims)
      .join(broadcast(q))
      .filter(array_contains(col("qcells"), col("cell")))
      .select(
        col("vec_id"),
        col("label"),
        round(graft.functions.VectorExprs
          .vecCosine(spark, col("embedding"), col("qe")), 4).as("cos"),
      )
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** BULK ANN JOIN — the whole-table form of [[ivfTopK]]: every row of
    * `queries` (qid, qe) gets its approximate cosine top-k from the IVF
    * index in ONE distributed plan, the operator a batch retrieval /
    * semantic-dedup / RAG-indexing pipeline needs when the query side
    * is a TABLE, not a probe. No per-query driver collect anywhere:
    * each query's `nProbe` cells come from the same codegen'd
    * [[graft.functions.VectorExprs.vecTopCells]] kernel, the query is
    * EXPLODED to (qid, cell) rows, and ONE join on `cell` routes each
    * query to exactly the index slices it probes — co-partitioned with
    * the index's `partitionBy(cell)` layout at corpus scale, so total
    * work is Σ_q (probed-cell sizes), never |Q| × corpus. Per-query
    * top-k is a PARTITIONED row_number window (WindowGroupLimit keeps
    * it a streaming rank — plan-locked in Round17Spec). `nProbe =
    * nCells` degenerates to the exact join, which is the spec's
    * equivalence gate (PipelineSpec's single-probe device, bulk-ified).
    */
  def annJoin(
      embeddings: DataFrame,
      queries: DataFrame,
      cents: Array[Double],
      nCells: Int,
      nProbe: Int,
      k: Int,
      dims: Int = 64,
  ): DataFrame = {
    val spark = embeddings.sparkSession
    val probed = queries.withColumn(
      "cell",
      explode(graft.functions.VectorExprs
        .vecTopCells(spark, col("qe"), cents, nCells, dims, nProbe)))
    val scored = ivfIndex(embeddings, cents, nCells, dims)
      .join(probed, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", round(graft.functions.VectorExprs
        .vecCosine(spark, col("embedding"), col("qe")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rn"))
  }

  /** Exact cosine top-k JOIN — the brute-force twin of [[annJoin]]
    * (|Q| × corpus work; the recall gate's ground truth, not a serving
    * path). Same tie rule: cosine desc, then vec_id.
    */
  private[graft] def exactJoinTopK(
      embeddings: DataFrame,
      queries: DataFrame,
      k: Int,
  ): DataFrame = {
    val spark = embeddings.sparkSession
    val scored = embeddings
      .select(col("vec_id"), col("embedding"))
      .join(queries)
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", round(graft.functions.VectorExprs
        .vecCosine(spark, col("embedding"), col("qe")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id"), col("cos"), col("rn"))
  }

  /** Product-quantization codebooks: the embedding space split into `m`
    * contiguous sub-spaces of `dims/m` dims, each with its own `k`-entry
    * codebook learned by plain (L2) Lloyd iterations over the SAME
    * bounded hash-stride sample discipline as [[ivfCentroids]] — driver
    * state is `m × k × dims/m` doubles plus the ~`sampleTarget`-row
    * sample, both constant in corpus size (FAISS trains PQ codebooks on
    * a sample the same way). Vectors are L2-normalized before
    * sub-slicing so the PQ-approximated inner product IS approximate
    * cosine (the standard normalize-then-IP reduction for cosine ANN).
    * Returns `m` codebooks, each `k × (dims/m)`.
    */
  def pqCodebooks(
      embeddings: DataFrame,
      m: Int = 8,
      k: Int = 16,
      dims: Int = 64,
      sampleTarget: Int = 2048,
      iters: Int = 8,
  ): Array[Array[Array[Double]]] =
    pqCodebooksFrom(
      normalizedSample(embeddings, dims, sampleTarget), m, k, dims, iters)

  private[graft] def pqCodebooksFrom(
      sample: Array[Array[Double]],
      m: Int,
      k: Int,
      dims: Int,
      iters: Int = 8,
  ): Array[Array[Array[Double]]] = {
    require(dims % m == 0, s"dims $dims not divisible by m $m")
    val sub = dims / m
    require(sample.length >= k,
      s"PQ sample ${sample.length} smaller than k $k")
    Array.tabulate(m) { mi =>
      val slices = sample.map(v =>
        java.util.Arrays.copyOfRange(v, mi * sub, (mi + 1) * sub))
      // init: evenly strided over the (vec_id-sorted) sample
      var cents = Array.tabulate(k)(c =>
        slices((c.toLong * slices.length / k).toInt).clone())
      def assign(v: Array[Double]): Int = {
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d2 = 0.0; var d = 0
          while (d < sub) {
            val diff = v(d) - cents(c)(d); d2 += diff * diff; d += 1
          }
          if (d2 < bestD) { bestD = d2; best = c }
          c += 1
        }
        best
      }
      var it = 0
      while (it < iters) {
        val sums = Array.ofDim[Double](k, sub)
        val cnt  = new Array[Int](k)
        slices.foreach { v =>
          val c = assign(v); cnt(c) += 1
          var d = 0
          while (d < sub) { sums(c)(d) += v(d); d += 1 }
        }
        cents = Array.tabulate(k) { c =>
          if (cnt(c) == 0) cents(c) // empty cell keeps its centroid
          else sums(c).map(_ / cnt(c))
        }
        it += 1
      }
      cents
    }
  }

  /** Adds `nvec` = L2-normalized copy of `src` (zero vectors pass
    * through unscaled rather than dividing by zero), cast back to
    * ARRAY<FLOAT> so the codegen kernels accept it. The norm is
    * materialized as its own projected column FIRST and the transform
    * lambda divides by that column: putting `l2norm` inside the lambda
    * would re-run the O(dims) aggregate once per ELEMENT (O(dims²) per
    * row — a ~30× overhead on the index-build scan).
    */
  private def withNormalizedF(df: DataFrame, src: String): DataFrame = df
    .withColumn("_nrm", l2norm(col(src)))
    .withColumn("nvec",
      when(col("_nrm") === 0.0, col(src))
        .otherwise(transform(col(src), x => x.cast("double") / col("_nrm")))
        .cast("array<float>"))
    .drop("_nrm")

  /** PQ code assignment for sub-space `mi` as a codegen expression:
    * nearest codebook entry by L2 over the sub-slice. Reuses the IVF
    * [[graft.functions.VectorExprs.vecTopCells]] argmax-DOT kernel via
    * the augmented-dimension trick — extend the sub-vector with a
    * constant 1.0 and each centroid with `-‖c‖²/2`, so
    * `argmax (x·c - ‖c‖²/2) = argmin ‖x - c‖²` exactly. Zero shuffle:
    * encoding is a per-row projection.
    */
  private def pqCode(
      spark: SparkSession,
      nvec: Column,
      cb: Array[Array[Double]],
      mi: Int,
      sub: Int,
  ): Column = {
    val ext = cb.flatMap(c => c :+ (-0.5 * c.map(x => x * x).sum))
    element_at(
      graft.functions.VectorExprs.vecTopCells(
        spark,
        concat(slice(nvec, mi * sub + 1, sub), array(lit(1.0f))),
        ext, cb.length, sub + 1, 1),
      1)
  }

  /** IVF-PQ approximate top-k (q127) — the serving-grade 100 TB layout
    * on top of q49's coarse index: each vector is stored as its IVF
    * cell plus `m` sub-space codes (m·log₂(k) bits — 4 bytes here vs
    * 256 for the raw float32s, a 64× logical compression), the raw
    * embedding column is DROPPED from the index, and a probe scores
    * candidates by asymmetric distance computation (ADC): the query's
    * exact sub-vectors dotted against each candidate's RECONSTRUCTED
    * sub-vectors, `Σₘ q⁽ᵐ⁾ · C⁽ᵐ⁾[codeₘ]` — the codebook lookup is an
    * `element_at` into a `typedlit` constant and the dot is the
    * zip_with/aggregate HOF pair, all codegen, no UDF, no driver
    * collect of the query vector. At corpus scale the index DataFrame
    * is written `partitionBy(cell)` exactly as q49's, so the un-probed
    * bulk is never read AND what is read is 32× smaller — that product
    * is the reason IVF-PQ is the standard billion-vector serving
    * layout. With `rerank > 0` the ADC shortlist of that many rows is
    * re-scored EXACTLY against the raw vectors fetched for just those
    * ids (the FAISS refine stage — a broadcast point-lookup into the
    * vector store, never a second corpus scan), which recovers the
    * recall the quantized scores alone cannot resolve when true
    * neighbors are separated by less than the quantization error.
    * Recall vs the exact q40 scan and the ADC error bound are gated in
    * Round10Spec (sketch class — no SQL oracle by contract).
    */
  /** The ADC score `Σₘ q⁽ᵐ⁾ · C⁽ᵐ⁾[codeₘ]` over a row's `codes` array:
    * the codebook lookup is an `element_at` into a `typedlit` constant
    * and the sub-space dot is the zip_with/aggregate HOF pair — all
    * codegen. `qn` may be a column (inline probe) or a literal array
    * (disk probe with the query collected once).
    */
  private def adcExpr(
      qn: Column,
      cbs: Array[Array[Array[Double]]],
      m: Int,
      sub: Int,
  ): Column =
    (0 until m).map { mi =>
      val chosen = element_at(
        typedLit(cbs(mi).map(_.toSeq).toSeq),
        element_at(col("codes"), mi + 1) + 1)
      aggregate(
        zip_with(slice(qn, mi * sub + 1, sub), chosen,
          (a, b) => a.cast("double") * b),
        lit(0.0),
        (acc, x) => acc + x,
      )
    }.reduce(_ + _)

  def ivfPqTopK(
      embeddings: DataFrame,
      queryVecId: Long,
      k: Int,
      nCells: Int = 16,
      nProbe: Int = 4,
      m: Int = 8,
      nCodes: Int = 256,
      dims: Int = 64,
      rerank: Int = 0,
  ): DataFrame = {
    val spark = embeddings.sparkSession
    require(dims % m == 0, s"dims $dims not divisible by m $m")
    val sub = dims / m
    // one sample pass trains BOTH quantizers
    val sample = normalizedSample(embeddings, dims)
    val cents = ivfCentroidsFrom(sample, nCells, dims)
    val cbs = pqCodebooksFrom(sample, m, nCodes, dims)
    val base = withNormalizedF(embeddings, "embedding")
    // index rows carry ONLY (vec_id, label, cell, codes) — the raw
    // embedding never leaves the scan, which is the PQ storage win
    val index = ivfIndex(
        base.filter(col("vec_id") =!= queryVecId), cents, nCells, dims)
      .withColumn("codes",
        array((0 until m).map(mi =>
          pqCode(spark, col("nvec"), cbs(mi), mi, sub)): _*))
      .select(col("vec_id"), col("label"), col("cell"), col("codes"))
    val q = base
      .filter(col("vec_id") === queryVecId)
      .select(
        col("nvec").as("qn"),
        graft.functions.VectorExprs
          .vecTopCells(spark, col("embedding"), cents, nCells, dims, nProbe)
          .as("qcells"),
      )
    val adc = adcExpr(col("qn"), cbs, m, sub)
    val ranked = index
      .join(broadcast(q))
      .filter(array_contains(col("qcells"), col("cell")))
      .select(col("vec_id"), col("label"), round(adc, 4).as("adc_cos"))
      .orderBy(col("adc_cos").desc, col("vec_id"))
    if (rerank <= 0) ranked.limit(k)
    else {
      // refine: the ≤`rerank`-row shortlist broadcasts as the BUILD side
      // of a join against the vector store, so fetching the raw floats
      // for the shortlist is a map-side lookup on the scan, not a
      // shuffle; exact cosine then re-orders those few rows
      val shortlist = ranked.limit(rerank)
      embeddings
        .select(col("vec_id"), col("embedding"))
        .join(broadcast(shortlist), Seq("vec_id"))
        .join(broadcast(embeddings.filter(col("vec_id") === queryVecId)
          .select(col("embedding").as("qe"))))
        .select(col("vec_id"), col("label"), col("adc_cos"),
          round(graft.functions.VectorExprs
            .vecCosine(embeddings.sparkSession, col("embedding"), col("qe")),
            4).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(k)
    }
  }

  /** Distributed k-NN-GRAPH ANN (NSW-class) — the graph-index
    * alternative to the IVF family, closing the serving-layout
    * comparison q127 opened: instead of partition-pruned cells, a
    * NEIGHBORHOOD GRAPH is materialized once and a query walks it with
    * a greedy beam search, touching a bounded handful of vectors
    * however large the corpus.
    *
    * BUILD (the distributed, expensive half): every vector
    * multi-assigns to its `assign` nearest IVF cells (the overlap is
    * what gives the graph cross-cell edges — the role HNSW's long
    * links play), candidate pairs are generated WITHIN cells only
    * (q147's blocking discipline — never corpus-wide), deduped across
    * the overlapping assignments, and each vector keeps its `degree`
    * best neighbors by exact cosine via a rank-filter that Catalyst
    * rewrites to WindowGroupLimit (map-side partial top-K, so the
    * window exchange carries ~degree rows per source, not the full
    * pair set). At corpus scale the adjacency list is a (src, dst)
    * table bucketed by src — a beam expansion is a point-lookup join.
    *
    * SEARCH (bounded by construction — rows AND bytes): entry = the
    * smallest vec_id in the query's nearest cell (the coarse quantizer
    * plays HNSW's upper layer); then ≤ `hops` rounds of: expand the
    * best `beam` unexpanded ids, fetch their neighbors (≤ beam·degree
    * rows), score the new ids by exact cosine against the query vector
    * (collected ONCE, re-injected as a literal). Driver state and every
    * collect are ≤ beam·degree·hops rows (~300) — the q49-family
    * bounded-collect discipline, independent of corpus size. Crucially
    * the per-hop fetches are POINT LOOKUPS into the persisted store's
    * id-bucketed layout ([[pointLookup]]): each hop READS ≤ |ids|
    * partitions of the adjacency/embedding stores, never the corpus —
    * at 100 TB every hop of every probe scans a bounded byte budget,
    * not the embedding table (Round12Spec asserts files-read ≪ total
    * per lookup; r11 flagged the pre-store `isin`-on-a-heap-scan
    * version for exactly this). Returns the top-k visited with
    * `n_scored` as the probe-cost observable; Round11Spec gates
    * recall@k against the exact scan and the visited-set bound (sketch
    * class — no SQL oracle by contract).
    */
  def buildKnnGraphStore(
      embeddings: DataFrame,
      root: String,
      queryVecId: Long,
      nCells: Int = 32,
      assign: Int = 2,
      degree: Int = 6,
      dims: Int = 64,
  ): Unit = {
    import org.apache.spark.sql.SaveMode
    val spark = embeddings.sparkSession
    import spark.implicits._
    val cents = ivfCentroids(embeddings, nCells, dims)
    val base = embeddings.filter(col("vec_id") =!= queryVecId)
    val assigned = base.select(
      col("vec_id"), col("embedding"),
      explode(graft.functions.VectorExprs
        .vecTopCells(spark, col("embedding"), cents, nCells, dims, assign))
        .as("cell"))
    val lhs = assigned.select(col("cell"), col("vec_id").as("src"),
      col("embedding").as("se"))
    val rhs = assigned.select(col("cell"), col("vec_id").as("dst"),
      col("embedding").as("de"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    val graph = lhs
      .join(rhs, Seq("cell"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(graft.functions.VectorExprs
          .vecCosine(spark, col("se"), col("de")), 4).as("cos"))
      // a non-positive edge never helps greedy ascent on normalized
      // vectors — dropping them thins the pre-window pair set
      .filter(col("cos") > 0.0)
      .groupBy(col("src"), col("dst")).agg(max(col("cos")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= degree)
      .select(col("src"), col("dst"))
    // repartition ON the bucket key before the dynamic-partition write:
    // every bucket is then written by exactly one task → one file per
    // bucket, so a point lookup reads |buckets(ids)| FILES, not
    // |buckets(ids)| × |write tasks|
    graph
      .withColumn("b", pmod(col("src"), lit(lookupBuckets.toLong)))
      .repartition(col("b"))
      .write.mode(SaveMode.Overwrite).partitionBy("b")
      .parquet(s"$root/adj")
    base
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("b", pmod(col("vec_id"), lit(lookupBuckets.toLong)))
      .repartition(col("b"))
      .write.mode(SaveMode.Overwrite).partitionBy("b")
      .parquet(s"$root/emb")
    // per-cell entry points (|cells| rows) + the trained centroids
    assigned.groupBy(col("cell")).agg(min(col("vec_id")).as("entry_id"))
      .write.mode(SaveMode.Overwrite).parquet(s"$root/cells")
    Seq(Tuple1(cents.toSeq)).toDF("cents")
      .write.mode(SaveMode.Overwrite).parquet(s"$root/cents")
  }

  /** Greedy beam search over a [[buildKnnGraphStore]] store. Every data
    * access is either a 1-row query fetch or a bucket-pruned point
    * lookup; nothing scans the corpus.
    */
  def searchKnnGraphStore(
      s: SparkSession,
      root: String,
      embeddings: DataFrame,
      queryVecId: Long,
      k: Int,
      nCells: Int = 32,
      beam: Int = 8,
      hops: Int = 6,
      dims: Int = 64,
  ): DataFrame = {
    val cents = s.read.parquet(s"$root/cents")
      .head.getSeq[Double](0).toArray
    // ONE reader per store: the file-index listing happens here once;
    // every hop's pruned lookup reuses it
    val embStore = s.read.parquet(s"$root/emb")
    val adjStore = s.read.parquet(s"$root/adj")
    // the query vector: ONE bounded fetch by id (a production caller
    // passes the vector itself), then a literal in every scoring plan
    val qRow = embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding"),
        element_at(graft.functions.VectorExprs
          .vecTopCells(s, col("embedding"), cents, nCells, dims, 1), 1)
          .as("qcell"))
      .head
    val qe = qRow.getSeq[Float](0)
    val qcell = qRow.getInt(1)
    val entry = s.read.parquet(s"$root/cells")
      .filter(col("cell") === qcell)
      .collect().headOption.map(_.getLong(1))
      .getOrElse(s.read.parquet(s"$root/cells")
        .agg(min(col("entry_id"))).head.getLong(0))
    // (label, cos) for a bounded id set — a bucket-pruned point lookup
    def score(ids: Seq[Long]): Array[(Long, Int, Double)] =
      pointLookup(embStore, "vec_id", ids)
        .select(col("vec_id"), col("label"),
          round(graft.functions.VectorExprs
            .vecCosine(s, col("embedding"), typedLit(qe)), 4).as("cos"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val scores = scala.collection.mutable.Map.empty[Long, (Int, Double)]
    score(Seq(entry)).foreach { case (id, lb, c) => scores(id) = (lb, c) }
    val expanded = scala.collection.mutable.Set.empty[Long]
    var h = 0
    var frontierNonEmpty = true
    while (h < hops && frontierNonEmpty) {
      val toExpand = scores.toSeq
        .filterNot { case (id, _) => expanded(id) }
        .sortBy { case (id, (_, c)) => (-c, id) }
        .take(beam)
        .map(_._1)
      if (toExpand.isEmpty) frontierNonEmpty = false
      else {
        expanded ++= toExpand
        val neigh = pointLookup(adjStore, "src", toExpand)
          .select(col("dst")).distinct()
          .collect().map(_.getLong(0)) // ≤ beam·degree rows
          .filterNot(scores.contains)
        if (neigh.nonEmpty)
          score(neigh.toSeq).foreach { case (id, lb, c) =>
            scores(id) = (lb, c)
          }
        h += 1
      }
    }
    val top = scores.toSeq
      .sortBy { case (id, (_, c)) => (-c, id) }
      .take(k)
      .map { case (id, (lb, c)) => (id, lb, c, scores.size.toLong) }
    import s.implicits._
    top.toDF("vec_id", "label", "cos", "n_scored")
  }

  // ---- registered queries ----

  private def q40(s: SparkSession, d: String): DataFrame =
    topKCosine(Tables.embeddings(s, d), queryVecId = 0L, k = 10)

  private val q40Sql =
    """SELECT vec_id, label,
      |  ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                         CAST(q.qe AS DOUBLE[])) /
      |        (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                               CAST(embedding AS DOUBLE[]))) *
      |         sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]),
      |                               CAST(q.qe AS DOUBLE[])))), 4) AS cos
      |FROM embeddings,
      |     (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
      |WHERE vec_id <> 0
      |ORDER BY cos DESC, vec_id
      |LIMIT 10""".stripMargin

  /** Per-label norm statistics — array math as plain aggregation. */
  private def q42(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables
      .embeddings(s, d)
      .withColumn("norm", l2norm($"embedding"))
      .groupBy($"label")
      .agg(
        count(lit(1)).as("n"),
        round(avg($"norm"), 4).as("avg_norm"),
        round(min($"norm"), 4).as("min_norm"),
        round(max($"norm"), 4).as("max_norm"),
      )
      .orderBy($"label")
  }

  private val q42Sql =
    """SELECT label, COUNT(*) AS n,
      |  ROUND(AVG(norm), 4) AS avg_norm,
      |  ROUND(MIN(norm), 4) AS min_norm,
      |  ROUND(MAX(norm), 4) AS max_norm
      |FROM (SELECT label,
      |        sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                              CAST(embedding AS DOUBLE[]))) AS norm
      |      FROM embeddings) t
      |GROUP BY label ORDER BY label""".stripMargin

  /** Higher-order array functions (`filter`/`transform`/`aggregate`) as
    * first-class columnar vector ops — the codegen'd lambda path a user
    * reaches for before writing any UDF. All arithmetic is fixed-point:
    * each float component widens exactly to double, scales by 1000 and
    * rounds to a long ("millis-of-component"), so per-row fold order and
    * cross-engine float handling cannot drift the result. The whole query
    * is a projection plus one partially-aggregated hash-agg — no shuffle
    * before the 5-group rollup, the right shape at any corpus size.
    */
  private def q99(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def mf = transform($"embedding",
      x => round(x.cast("double") * 1000).cast("long"))
    Tables
      .embeddings(s, d)
      .select(
        $"label",
        size(filter($"embedding", x => x > lit(0f))).as("n_pos"),
        aggregate(mf, lit(0L), (acc, x) => acc + x).as("sum_mf"),
        array_max(mf).as("max_mf"),
      )
      .groupBy($"label")
      .agg(
        count(lit(1)).as("n"),
        sum($"n_pos").as("n_pos_total"),
        sum($"sum_mf").as("sum_mf"),
        max($"max_mf").as("max_mf"),
      )
      .orderBy($"label")
  }

  private val q99Sql =
    """SELECT label, COUNT(*) AS n,
      |  CAST(SUM(n_pos) AS BIGINT) AS n_pos_total,
      |  CAST(SUM(sum_mf) AS BIGINT) AS sum_mf,
      |  MAX(max_mf) AS max_mf
      |FROM (
      |  SELECT label,
      |    len(list_filter(embedding, x -> x > 0)) AS n_pos,
      |    list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(ROUND(x * 1000) AS BIGINT))) AS sum_mf,
      |    list_max(list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> CAST(ROUND(x * 1000) AS BIGINT))) AS max_mf
      |  FROM embeddings) t
      |GROUP BY label ORDER BY label""".stripMargin

  private def q41(s: SparkSession, d: String): DataFrame =
    annTopNeighbor(Tables.embeddings(s, d), nBits = 8, tables = 4)
      .orderBy(col("cos").desc, col("v"))
      .limit(50)

  private def q49(s: SparkSession, d: String): DataFrame =
    ivfTopK(Tables.embeddings(s, d), queryVecId = 0L, k = 10,
      nCells = 16, nProbe = 4)

  private def q127(s: SparkSession, d: String): DataFrame =
    ivfPqTopK(Tables.embeddings(s, d), queryVecId = 0L, k = 10,
      nCells = 16, nProbe = 4, rerank = 50)

  /** q181's registered run: the graph index is built ONCE per corpus
    * (build-if-absent — the builder is deterministic, so a present
    * store ≡ a rebuild; production builds the graph offline exactly
    * like this) and every run measures what serving actually pays: the
    * bounded, bucket-pruned walk.
    */
  private def q181(s: SparkSession, d: String): DataFrame =
    searchKnnGraphStore(s, knnGraph.ensure(s, d), Tables.embeddings(s, d),
      queryVecId = 0L, k = 10)

  /** q200: ANN STRATEGY COMPARISON — the recall-vs-probe-cost matrix
    * for the serving decision the index family (q40 exact, q49 IVF,
    * q127 IVF-PQ, q181 k-NN graph) leaves to the reader: same corpus,
    * same query, same k, one row per strategy with hits against the
    * exact top-10, recall in permille, and the number of candidate
    * vectors each strategy actually SCORED (the cost axis — exact
    * scores the corpus; IVF scores its probed cells; IVF-PQ
    * ADC-scores those cells PLUS exact-rescores its `rerank`-row
    * refine set, both counted; the graph walk scores its bounded
    * frontier). Each approximate index is PERSISTED build-if-absent
    * (deterministic builders, so a present store ≡ a rebuild) and the
    * comparison PROBES the stored layouts — partition-pruned cell
    * scans for IVF/PQ (q184's device), bucket point-lookups for the
    * graph — so a q200 run costs four probes, not three index builds
    * (the r11 plan audit flagged the inline-rebuild version as the
    * most expensive batch query; the graph store is shared with q181,
    * which rebuilds it on every run of its own). Search semantics and
    * results are IDENTICAL to q49/q127/q181 — same training sample,
    * same centroid/codebook derivations, same probe expressions.
    * Driver state: four bounded top-k collects + meta/count fetches.
    * No oracle (DuckDB cannot replay the index internals);
    * Round11Spec gates the recall floors and the cost ordering.
    */
  private def q200(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val exact = topKCosine(emb, 0L, 10).collect().map(_.getLong(0))
    val exactIds = exact.toSet
    val corpusN = emb.filter(col("vec_id") =!= 0L).count()
    def hits(ids: Seq[Long]): Long = ids.count(exactIds).toLong
    // IVF: q49's pipeline persisted once, then a pruned probe
    val ivfRoot = q200Ivf.ensure(s, d)
    val cents = s.read.parquet(s"$ivfRoot/cents")
      .head.getSeq[Double](0).toArray
    val qcells = emb.filter(col("vec_id") === 0L)
      .select(graft.functions.VectorExprs
        .vecTopCells(s, col("embedding"), cents, 16, 64, 4))
      .head.getSeq[Int](0)
    // probed-cell row count off the stored index — a PRUNED count, and
    // (same training sample ⇒ same centroids) also the PQ probe's cost
    val probed = s.read.parquet(s"$ivfRoot/index")
      .filter(col("cell").isin(qcells: _*)).count()
    val ivfIds = probeDiskIndex(s, s"$ivfRoot/index", emb, 0L, cents,
      16, nProbe = 4, k = 10).collect().map(_.getLong(0)).toSeq
    // graph store first: its bucketed embedding layout doubles as the
    // PQ refine's point-lookup vector store
    val gRoot = knnGraph.ensure(s, d)
    // IVF-PQ: persisted code table, pruned ADC probe + 50-row refine
    // fetched by bucket point-lookup (not a corpus scan)
    val pqRoot = q200Pq.ensure(s, d)
    val pqIds = probeIvfPqStore(s, pqRoot, emb, 0L, k = 10,
      nProbe = 4, rerank = 50,
      vecStore = Some(s.read.parquet(s"$gRoot/emb")))
      .collect().map(_.getLong(0)).toSeq
    val graphRows =
      searchKnnGraphStore(s, gRoot, emb, 0L, k = 10).collect()
    val graphIds = graphRows.map(_.getLong(0)).toSeq
    val graphScored = graphRows.headOption
      .map(_.getLong(3)).getOrElse(0L)
    Seq(
      ("exact_scan", hits(exact.toSeq), corpusN),
      ("ivf", hits(ivfIds), probed),
      ("ivf_pq", hits(pqIds), probed + 50L),
      ("knn_graph", hits(graphIds), graphScored),
    ).toDF("strategy", "n_hits", "n_scored")
      .select($"strategy", lit(10).as("k"), $"n_hits",
        ($"n_hits" * 100).as("recall_permille"), $"n_scored")
      .orderBy($"strategy")
  }

  /** Per-SF staging root for q184's persisted IVF index. */
  private[graft] def q184IndexRoot(d: String): String = {
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    s"target/stage_vectors/q184_index_$tag"
  }

  /** q181's k-NN graph store (shared with q200, whose IVF-PQ refine
    * reads its bucketed embedding layout). The builder is
    * deterministic, so a present store ≡ a rebuild.
    */
  private[graft] val knnGraph = StoreGuard.declare("target/stage_vectors",
      "q181_graph", "embeddings.parquet",
      payload = Seq("adj", "emb", "cells", "cents")) { (s, d, root) =>
    buildKnnGraphStore(Tables.embeddings(s, d), root, queryVecId = 0L)
  }

  /** q200's persisted IVF index: q49's pipeline (16 cells). */
  private val q200Ivf = StoreGuard.declare("target/stage_vectors",
      "q200_ivf", "embeddings.parquet",
      payload = Seq("index", "cents")) { (s, d, root) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val cents = ivfCentroids(emb, nCells = 16, dims = 64)
    ivfIndex(emb.filter(col("vec_id") =!= 0L), cents, 16, 64)
      .select(col("vec_id"), col("label"), col("cell"),
        col("embedding"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(s"$root/index")
    Seq(Tuple1(cents.toSeq)).toDF("cents")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/cents")
  }

  /** q200's persisted IVF-PQ code table. */
  private val q200Pq = StoreGuard.declare("target/stage_vectors",
      "q200_pq", "embeddings.parquet",
      payload = Seq("index", "cents", "cb")) { (s, d, root) =>
    buildIvfPqStore(Tables.embeddings(s, d), root, queryVecId = 0L)
  }

  /** Id-bucket count for the point-lookup layouts. 64 suffices at test
    * SF; at corpus scale buckets grow with the store (≈ bytes / target
    * file size) while a probe's cost stays ≤ |ids| buckets — the bucket
    * count divides the store, not the lookup.
    */
  private[graft] val lookupBuckets = 64

  /** Random-access read of a store laid out `partitionBy("b")` with
    * b = id mod [[lookupBuckets]]: the bucket list derived from the
    * LITERAL id list reaches the file index as PartitionFilters, so the
    * scan touches ≤ |distinct id buckets| partitions however large the
    * store — the point-lookup pattern a graph walk (or any id-keyed
    * serving read) needs. A bare `isin` on a heap layout would list and
    * read every file and filter per row (the r11 `weak` finding this
    * layout retires). `store` is the caller's ONE `read.parquet` of the
    * layout — its cached file index is reused across lookups, so a
    * multi-hop walk pays the directory listing once, not per hop.
    * Round12Spec asserts files-read ≪ total and the PartitionFilters
    * plan shape.
    */
  private[graft] def pointLookup(
      store: DataFrame,
      idCol: String,
      ids: Seq[Long],
  ): DataFrame = {
    // pmod, matching the store writers — Scala % is sign-preserving and
    // would map a negative id to a bucket that was never written
    // (silent empty result, not an error).
    val buckets =
      ids.map(id => ((id % lookupBuckets) + lookupBuckets) % lookupBuckets)
        .distinct
    store.filter(col("b").isin(buckets: _*) && col(idCol).isin(ids: _*))
  }

  /** Persist [[ivfPqTopK]]'s index half: the `partitionBy(cell)` code
    * table (vec_id, label, cell, codes — raw embeddings dropped, the PQ
    * storage win) plus centroid/codebook meta, so a probe replays the
    * identical ADC search against a PRUNED scan of the stored layout
    * instead of re-training and re-encoding the corpus per query.
    */
  private[graft] def buildIvfPqStore(
      embeddings: DataFrame,
      root: String,
      queryVecId: Long,
      nCells: Int = 16,
      m: Int = 8,
      nCodes: Int = 256,
      dims: Int = 64,
  ): Unit = {
    import org.apache.spark.sql.SaveMode
    val spark = embeddings.sparkSession
    import spark.implicits._
    val sub = dims / m
    val sample = normalizedSample(embeddings, dims)
    val cents = ivfCentroidsFrom(sample, nCells, dims)
    val cbs = pqCodebooksFrom(sample, m, nCodes, dims)
    val base = withNormalizedF(embeddings, "embedding")
    ivfIndex(base.filter(col("vec_id") =!= queryVecId), cents, nCells,
      dims)
      .withColumn("codes",
        array((0 until m).map(mi =>
          pqCode(spark, col("nvec"), cbs(mi), mi, sub)): _*))
      .select(col("vec_id"), col("label"), col("cell"), col("codes"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell")
      .parquet(s"$root/index")
    Seq(Tuple1(cents.toSeq)).toDF("cents")
      .write.mode(SaveMode.Overwrite).parquet(s"$root/cents")
    cbs.zipWithIndex
      .flatMap { case (cb, mi) =>
        cb.zipWithIndex.map { case (v, code) => (mi, code, v.toSeq) }
      }
      .toSeq.toDF("mi", "code", "vec")
      .write.mode(SaveMode.Overwrite).parquet(s"$root/cb")
  }

  /** ADC + exact-refine probe of a [[buildIvfPqStore]] store — the
    * same search as [[ivfPqTopK]]'s probe half (identical expressions,
    * identical results), but the probed cells are collected FIRST (one
    * bounded 1-row fetch) so the literal `isin` partition-prunes the
    * stored index scan, q184's device.
    */
  private[graft] def probeIvfPqStore(
      s: SparkSession,
      root: String,
      embeddings: DataFrame,
      queryVecId: Long,
      k: Int,
      nProbe: Int = 4,
      m: Int = 8,
      nCodes: Int = 256,
      dims: Int = 64,
      rerank: Int = 0,
      vecStore: Option[DataFrame] = None,
  ): DataFrame = {
    val sub = dims / m
    val cents = s.read.parquet(s"$root/cents")
      .head.getSeq[Double](0).toArray
    val nCells = cents.length / dims
    val cbs = Array.fill(m)(Array.ofDim[Array[Double]](nCodes))
    s.read.parquet(s"$root/cb").collect().foreach { r =>
      cbs(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    val qRow = withNormalizedF(
        embeddings.filter(col("vec_id") === queryVecId), "embedding")
      .select(col("nvec"),
        graft.functions.VectorExprs
          .vecTopCells(s, col("embedding"), cents, nCells, dims, nProbe))
      .head
    val qn = qRow.getSeq[Float](0)
    val cells = qRow.getSeq[Int](1)
    val ranked = s.read.parquet(s"$root/index")
      .filter(col("cell").isin(cells: _*))
      .select(col("vec_id"), col("label"),
        round(adcExpr(typedLit(qn), cbs, m, sub), 4).as("adc_cos"))
      .orderBy(col("adc_cos").desc, col("vec_id"))
    if (rerank <= 0) ranked.limit(k)
    else {
      val shortlist = ranked.limit(rerank)
      // refine fetch: with a bucketed vector store (the q181 layout),
      // the ≤rerank ids collect (bounded by design) and the raw floats
      // come from a PARTITION-PRUNED point lookup — at 100 TB the
      // refine reads |ids| files, not the embedding table. Without a
      // store, the fetch is the broadcast-filtered corpus scan.
      val refined = vecStore match {
        case Some(store) =>
          val ids = shortlist.select(col("vec_id"))
            .collect().map(_.getLong(0)).toSeq
          pointLookup(store, "vec_id", ids)
            .select(col("vec_id"), col("embedding"))
            .join(broadcast(shortlist), Seq("vec_id"))
        case None =>
          embeddings
            .select(col("vec_id"), col("embedding"))
            .join(broadcast(shortlist), Seq("vec_id"))
      }
      refined
        .join(broadcast(embeddings
          .filter(col("vec_id") === queryVecId)
          .select(col("embedding").as("qe"))))
        .select(col("vec_id"), col("label"), col("adc_cos"),
          round(graft.functions.VectorExprs
            .vecCosine(s, col("embedding"), col("qe")), 4).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(k)
    }
  }

  /** Probe a DISK IVF index (rows (vec_id, label, cell, embedding),
    * written `partitionBy("cell")`): the query's `nProbe` nearest cell
    * ids are collected first (ONE bounded 1-row collect) so the index
    * filter is a LITERAL `isin` — that is what makes the probe a
    * static PARTITION-PRUNED scan (PartitionFilters at the file index;
    * the un-probed bulk is never read — a joined `array_contains`
    * filter would evaluate per row AFTER listing/reading everything).
    * Candidates score by exact cosine against the broadcast query,
    * top-k. Shared by the incremental (q184) and rebuilt index paths
    * so their equivalence compares the same search.
    */
  private[graft] def probeDiskIndex(
      s: SparkSession,
      indexPath: String,
      emb: DataFrame,
      queryVecId: Long,
      cents: Array[Double],
      nCells: Int,
      nProbe: Int,
      k: Int,
      // payload predicate for FILTERED ANN (q263): applied at the
      // pruned scan, so it rides the same parquet read as the cell
      // pruning — PartitionFilters prune cell directories, the
      // predicate lands in PushedFilters on the payload columns
      predicate: Column = lit(true),
  ): DataFrame = {
    val cells = emb.filter(col("vec_id") === queryVecId)
      .select(graft.functions.VectorExprs
        .vecTopCells(s, col("embedding"), cents, nCells, 64, nProbe))
      .head.getSeq[Int](0)
    val qdf = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qe"))
    s.read.parquet(indexPath)
      .filter(col("cell").isin(cells: _*))
      .filter(predicate)
      .join(broadcast(qdf))
      .select(col("vec_id"), col("label"),
        round(graft.functions.VectorExprs
          .vecCosine(s, col("embedding"), col("qe")), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** q184: INCREMENTAL IVF index maintenance — the serving-side
    * completion of the incremental family (q177 exact text, q182 fuzzy
    * text, q184 vectors): new vectors join a LIVE ANN index without
    * re-clustering or rewriting the existing shards. The coarse
    * quantizer (k-means centroids) is trained on the BASE corpus and
    * FROZEN — the production practice: retrain offline, assign online —
    * so cell assignment is a pure function of the centroid constant,
    * and appending the delta's rows to the `partitionBy(cell)` layout
    * (dynamic-partition append: only the delta's cells gain files;
    * base files are untouched) yields an index IDENTICAL in content to
    * a full rebuild under the same centroids. That equivalence is
    * EXACT, not approximate — Round11Spec asserts the merged-index
    * probe returns row-for-row the rebuilt-index probe, and that the
    * probe's scan actually prunes to the probed cells' partitions.
    * The registered run probes the incrementally-maintained disk index
    * (sketch class — search itself is approximate vs q40's exact scan,
    * so no SQL oracle; the recall story is q49's, unchanged by
    * maintenance).
    */
  private def q184(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.SaveMode
    val root = q184IndexRoot(d)
    val emb = Tables.embeddings(s, d)
    val queryVecId = 0L
    val nCells = 16
    val base = emb.filter(col("vec_id") % 10 < 8 &&
      col("vec_id") =!= queryVecId)
    val delta = emb.filter(col("vec_id") % 10 >= 8 &&
      col("vec_id") =!= queryVecId)
    // frozen coarse quantizer: trained on the BASE batch only
    val cents = ivfCentroids(base, nCells)
    val idx = s"$root/index"
    ivfIndex(base, cents, nCells)
      .select(col("vec_id"), col("label"), col("cell"), col("embedding"))
      .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(idx)
    // incremental maintenance: assign ONLY the delta against the same
    // frozen centroids and append — base shards are never rewritten
    ivfIndex(delta, cents, nCells)
      .select(col("vec_id"), col("label"), col("cell"), col("embedding"))
      .write.mode(SaveMode.Append).partitionBy("cell").parquet(idx)
    probeDiskIndex(s, idx, emb, queryVecId, cents, nCells,
      nProbe = 4, k = 10)
  }

  /** q263's persisted filtered-serving index: the q49 layout over the
    * corpus minus the query vector, under frozen centroids.
    */
  private val q263Index = StoreGuard.declare("target/stage_vectors",
      "q263_index", "embeddings.parquet",
      payload = Seq("index")) { (s, d, root) =>
    val base = Tables.embeddings(s, d).filter(col("vec_id") =!= 0L)
    ivfIndex(base, ivfCentroids(base, 16), 16)
      .select(col("vec_id"), col("label"), col("cell"),
        col("embedding"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cell").parquet(s"$root/index")
  }

  /** q263: FILTERED ANN — the serving shape every vector DB ships:
    * "nearest neighbors of q AMONG rows matching a metadata
    * predicate" (here `label = 1`, the tenant/language/source filter).
    * The predicate is pushed INTO the cell-pruned probe of the
    * persisted `partitionBy(cell)` store, not applied to its output:
    * the scan prunes to the nProbe probed cells' directories
    * (PartitionFilters) AND skips non-matching payload rows at the
    * parquet reader (PushedFilters on `label`) — so a 1%-selective
    * filter reads ~1% of the probed cells' bytes, instead of scoring
    * k vectors, filtering, and coming back starved (the classic
    * post-filter recall bug: top-k THEN filter returns < k rows; the
    * pushed form scores ONLY qualifying vectors, so it returns the
    * true filtered-subset top-k of the probed cells). Store build is
    * guard-once ([[StoreGuard]]); frozen centroids make assignment a
    * pure function, so rebuild ≡ reuse. Search is IVF-approximate
    * (sketch class — no SQL oracle); Round14Spec pins (a) exactness
    * on the probed-cells × predicate subset against an in-memory
    * twin, (b) recall vs the GLOBAL filtered exact scan, and (c) that
    * the physical scan really carries both filter classes.
    */
  private def q263(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val nCells = 16
    val cents = ivfCentroids(emb.filter(col("vec_id") =!= 0L), nCells)
    probeDiskIndex(s, s"${q263Index.ensure(s, d)}/index", emb, 0L, cents,
      nCells, nProbe = 4, k = 10, predicate = col("label") === 1)
  }

  /** Semantic deduplication (the SemDeDup shape: cluster the embedding
    * space, then prune near-duplicate SEMANTICS inside each cluster —
    * near-dup pairs across clusters are, by construction of the
    * clustering, rare): assign every vector to its IVF cell, self-join
    * WITHIN cells only, and drop any vector that has a cos ≥ `tau`
    * neighbor with a smaller vec_id (keep-first — deterministic and
    * placement-independent, the q62/q145 survivor rule applied to
    * embedding space). Complements the text-side sketches: MinHash
    * (q35) catches lexical overlap, SemDeDup catches paraphrases with
    * near-identical embeddings that share no 5-gram.
    *
    * Scale: the pair space is bounded per cell (the skew guard every
    * banded self-join here uses — cells are capped by construction of
    * k-means on normalized vectors; a pathological cell would surface
    * in the q49 index stats), the join is an equi-join on cell id, and
    * the verdict is an anti-join — no global pairs, no iteration, no
    * driver data. At 100 TB this runs per `partitionBy(cell)` shard of
    * the q49 index, so the candidate generation never crosses cell
    * files.
    */
  def semanticDedup(
      embeddings: DataFrame,
      nCells: Int,
      tau: Double,
      dims: Int = 64,
  ): DataFrame = {
    val spark = embeddings.sparkSession
    val cents = ivfCentroids(embeddings, nCells, dims)
    val idx = ivfIndex(embeddings, cents, nCells, dims)
      .select(col("cell"), col("vec_id"), col("embedding"))
    val lhs = idx.select(col("cell"), col("vec_id").as("kid"),
      col("embedding").as("ke"))
    val rhs = idx.select(col("cell"), col("vec_id").as("did"),
      col("embedding").as("de"))
    val dropped = lhs
      .join(rhs, Seq("cell"))
      .filter(col("kid") < col("did"))
      .filter(graft.functions.VectorExprs
        .vecCosine(spark, col("ke"), col("de")) >= tau)
      .select(col("did")).distinct()
    idx
      .join(dropped, idx("vec_id") === dropped("did"), "left_anti")
      .select(col("cell"), col("vec_id"))
  }

  /** q147: per-cell survivorship ledger of [[semanticDedup]] — n
    * vectors in the cell, n surviving, n pruned. τ = 0.38 sits inside
    * the synthetic fixture's observed cosine range (random Gaussian
    * embeddings top out near 0.48, so a production-style 0.95+ would
    * prune nothing here); real corpora pass their own τ to
    * [[semanticDedup]]. */
  private def q147(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = ivfCentroids(emb, nCells = 16)
    val sizes = ivfIndex(emb, cents, nCells = 16)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
    val kept = semanticDedup(emb, nCells = 16, tau = 0.38)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_kept"))
    sizes
      .join(kept, Seq("cell"), "left")
      .select(col("cell"),
        col("n_vecs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_vecs") - coalesce(col("n_kept"), lit(0L))).as("n_pruned"))
      .orderBy(col("cell"))
  }

  /** q108: int8 embedding quantization — the compression step every
    * embedding store/ANN index runs before serving (float32 → int8 is
    * 4× less memory and bandwidth, and integer dot products). Per
    * vector: symmetric max-abs scaling (`q = round(x · 127 / max|x|)`
    * — the argmax element maps to ±127 exactly, nothing can clip), then
    * the quantized self-dot product (the quantity an int8 ANN actually
    * computes) and the saturation count (|q| = 127 — the QC stat that
    * catches a bad scale choice), rolled up per label. Pure codegen
    * HOFs (`aggregate`/`transform`/`filter`) — no shuffle until the
    * final label rollup, whose map-side combine ships one row per
    * label per task. Outputs are INTEGER (quantized grids + counts),
    * so the hash compare is exact: the only float step, round(x·127 /
    * mx) on doubles, is the q22-family ROUND discipline both engines
    * share; all-zero vectors (mx = 0, none in the fixture but the
    * guard is semantics, not data-dependent) are excluded on both
    * sides rather than dividing by zero.
    */
  private def q108(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables
      .embeddings(s, d)
      .withColumn("mx",
        expr("""aggregate(embedding, CAST(0.0 AS DOUBLE),
                (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))"""))
      .filter($"mx" > 0.0)
      .withColumn("qv",
        expr("""transform(embedding,
                x -> CAST(ROUND(CAST(x AS DOUBLE) * 127.0 / mx) AS LONG))"""))
      .groupBy($"label")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(expr("aggregate(qv, 0L, (acc, v) -> acc + v * v)"))
          .as("qdot_total"),
        sum(expr("CAST(size(filter(qv, v -> abs(v) = 127)) AS LONG)"))
          .as("n_saturated"),
      )
      .orderBy($"label")
  }

  private val q108Sql =
    """WITH q AS (
      |  SELECT label,
      |    list_transform(embedding,
      |      x -> CAST(ROUND(CAST(x AS DOUBLE) * 127.0 /
      |        list_max(list_transform(embedding,
      |          y -> abs(CAST(y AS DOUBLE))))) AS BIGINT)) AS qv
      |  FROM embeddings
      |  WHERE list_max(list_transform(embedding,
      |          y -> abs(CAST(y AS DOUBLE)))) > 0)
      |SELECT label, COUNT(*) AS n_vecs,
      |  CAST(SUM(list_reduce(list_transform(qv, v -> v * v),
      |    (a, b) -> a + b)) AS BIGINT) AS qdot_total,
      |  CAST(SUM(len(list_filter(qv, v -> abs(v) = 127))) AS BIGINT)
      |    AS n_saturated
      |FROM q GROUP BY label ORDER BY label""".stripMargin

  /** q190: MMR (MAXIMAL MARGINAL RELEVANCE) RE-RANKING — the
    * diversity-aware serving stage a RAG retriever runs AFTER ANN
    * recall: from the top-C cosine candidates, greedily pick k items
    * maximizing λ·relevance − (1−λ)·max-similarity-to-already-picked
    * (Carbonell & Goldstein's formulation), so near-duplicate passages
    * don't crowd the context window. ABSENT-IN-REF.
    *
    * Scale split mirrors q181/q127: the DISTRIBUTED half is candidate
    * generation (brute-force scan → `TakeOrderedAndProject`, or q49's
    * IVF at corpus scale — either way each task ships ≤ C rows); the
    * greedy selection is inherently sequential in k and runs on the
    * driver over the BOUNDED candidate set (C=40 rows of 64 floats —
    * re-rankers are single-node by design; cost O(k·C·dim), independent
    * of corpus size). No oracle — greedy argmax chains are not SQL —
    * so Round11Spec re-derives every pick's objective from the raw
    * embeddings and asserts the diversity win over plain top-k.
    */
  private def q190(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lambda = 0.7
    val (bigC, k) = (40, 10)
    val emb = Tables.embeddings(s, d)
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").as("qe"))
    val cands = emb
      .filter(col("vec_id") =!= 0L)
      .join(broadcast(q))
      .select(col("vec_id"), col("label"),
        graft.functions.VectorExprs
          .vecCosine(s, col("embedding"), col("qe")).as("rel"),
        col("embedding"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(bigC)
      .collect() // bounded: C rows — the serving-stage working set
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getSeq[Float](3).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Int, Double, Double)] // rank, id, label, rel, redundancy
    val picked = scala.collection.mutable.Set.empty[Long]
    var rank = 1
    while (rank <= k && picked.size < cands.length) {
      val best = cands.iterator
        .filterNot { case (id, _, _, _) => picked(id) }
        .map { case (id, lb, rel, v) =>
          val red =
            if (selected.isEmpty) 0.0
            else selected.map { case (_, sid, _, _, _) =>
              cos(v, cands.find(_._1 == sid).get._4)
            }.max
          (id, lb, rel, red, lambda * rel - (1 - lambda) * red)
        }
        .reduce { (a, b) =>
          if (b._5 > a._5 || (b._5 == a._5 && b._1 < a._1)) b else a
        }
      selected += ((rank, best._1, best._2, best._3, best._4))
      picked += best._1
      rank += 1
    }
    import s.implicits._
    selected.toSeq
      .toDF("rank", "vec_id", "label", "rel_raw", "red_raw")
      .select($"rank", $"vec_id", $"label",
        round($"rel_raw", 4).as("relevance"),
        round($"red_raw", 4).as("redundancy"))
      .orderBy($"rank")
  }

  // ---- q274: distributed PCA over the embedding corpus ---------------

  /** One-pass outer-product accumulator: reduces a Dataset of
    * fixed-point d-vectors to the d×d scatter matrix Σ xxᵀ as a flat
    * Long array. Because every entry is an INTEGER sum of integer
    * products, the result is bit-identical under ANY partitioning or
    * merge order — the property that makes distributed PCA reproducible
    * (a double accumulator would drift in the last ulp with partition
    * count). Fixed-point scale 10⁴ bounds each product at ~4·10⁸, so
    * the Long sums hold to ~10¹⁰ rows; beyond that the combine tier
    * upgrades to DECIMAL(38,0) — stated, not hidden.
    */
  private[graft] final class ScatterAgg(d: Int)
      extends org.apache.spark.sql.expressions
        .Aggregator[Array[Long], Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](d * d)
    override def reduce(b: Array[Long], x: Array[Long]): Array[Long] = {
      var j = 0
      while (j < d) {
        val xj = x(j)
        if (xj != 0L) {
          val off = j * d
          var k = 0
          while (k < d) { b(off + k) += xj * x(k); k += 1 }
        }
        j += 1
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Mean-centered fixed-point (10⁴) scatter matrix of the embedding
    * corpus: pass 1 is a (dim)-domain hash aggregate for the mean,
    * pass 2 the [[ScatterAgg]] fold. Exposed for Round14Spec's
    * brute-force-equality and partition-invariance gates.
    */
  private[graft] def scatterMatrix(
      vecs: DataFrame,
      d: Int): (Array[Long], Long) = {
    val s = vecs.sparkSession
    import s.implicits._
    val q4 = "CAST(ROUND(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)"
    val n = vecs.count()
    val mu = vecs
      .select(posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"pos")
      .agg(sum(expr(q4)).as("sx"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1) / n)
      .toMap
    val muArr = (0 until d).map(mu.getOrElse(_, 0L))
    val centered = vecs
      .select(expr(
        s"""transform(embedding, (x, i) ->
           |  $q4 - element_at(array(${muArr.mkString(",")}), i + 1))"""
          .stripMargin).as("v"))
      .as[Array[Long]]
    val scatter = centered
      .select(new ScatterAgg(d).toColumn)
      .head()
    (scatter, n)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix — fixed
    * deterministic sweep order (row-major upper triangle), fixed
    * convergence threshold, so the same input always yields the same
    * rotations bit-for-bit. 64×64 runs in microseconds on the driver;
    * the distributed work is all in [[scatterMatrix]]. Returns
    * (eigenvalues, eigenvectors-as-columns) sorted by eigenvalue
    * descending with an index tie-break.
    */
  private[graft] def jacobiEig(
      m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-22) {
      off = 0.0
      for (p <- 0 until d; q <- (p + 1) until d) {
        off += a(p)(q) * a(p)(q)
        if (math.abs(a(p)(q)) > 1e-14) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val t = math.signum(theta) /
            (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(t * t + 1.0)
          val sn = t * c
          for (k <- 0 until d) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = c * akp - sn * akq
            a(k)(q) = sn * akp + c * akq
          }
          for (k <- 0 until d) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = c * apk - sn * aqk
            a(q)(k) = sn * apk + c * aqk
          }
          for (k <- 0 until d) {
            val vkp = v(k)(p); val vkq = v(k)(q)
            v(k)(p) = c * vkp - sn * vkq
            v(k)(q) = sn * vkp + c * vkq
          }
        }
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    (order.map(i => a(i)(i)).toArray,
      order.map(i => (0 until d).map(v(_)(i)).toArray).toArray)
  }

  /** q274: PCA VARIANCE PROFILE of the embedding corpus — the
    * dimensionality-reduction / whitening primitive the vector stack
    * was missing (SemDeDup-style pipelines whiten before clustering;
    * IVF-PQ recall improves in a rotated basis): top-8 principal
    * components of the 64-dim embeddings with per-component and
    * cumulative explained variance. The corpus-sized work is ONE
    * integer-exact scatter aggregate (shuffle payload: a single 64×64
    * Long matrix per partition — map-side combined); the eigensolve is
    * a driver-side 64×64 Jacobi, the IVF-centroid bounded-driver
    * discipline. No SQL oracle (DuckDB has no eigensolver) —
    * Round14Spec gates: distributed scatter ≡ brute force exactly and
    * partition-invariant, eigenpairs satisfy A·v = λv + orthonormality,
    * trace is preserved, and a planted anisotropic fixture recovers its
    * axis.
    */
  private def q274(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = 64
    val (scatter, n) = scatterMatrix(
      Tables.embeddings(s, d).select($"embedding"), dim)
    val cov = Array.tabulate(dim, dim)((j, k) =>
      scatter(j * dim + k).toDouble / (n.toDouble * 1e8))
    val (eig, _) = jacobiEig(cov)
    val tot = eig.sum
    var cum = 0.0
    val rows = (0 until 8).map { i =>
      cum += eig(i)
      (i + 1L, math.round(eig(i) * 1e9),
        math.round(1000.0 * eig(i) / tot),
        math.round(1000.0 * cum / tot))
    }
    rows.toDF("component", "eigval_nano", "var_permille", "cum_permille")
      .orderBy($"component")
  }

  // ---- q277: greedy k-center coreset selection -----------------------

  /** q277: K-CENTER CORESET — greedy farthest-point selection of k = 8
    * maximally-spread exemplars from the embedding corpus (the
    * 2-approximation of the k-center objective; the data-pruning /
    * coreset primitive next to q268's distribution-matching selection:
    * DSIR picks what LOOKS like the target, k-center picks what COVERS
    * the space). Round t selects argmax over vectors of min squared
    * distance to the chosen set, ties to the smallest vec_id — a total
    * order, so the trajectory is deterministic and oracle-exact.
    *
    * Exactness device: embeddings quantize to 10⁴ fixed point, so
    * every squared distance is an INTEGER ≤ ~4·10¹¹ — Spark computes
    * Σ(x−y)² in Long inside codegen'd array HOFs, the oracle computes
    * the algebraically identical daa + dbb − 2·a·b via
    * `list_dot_product` (whose magnitudes stay < 2⁵³, so DuckDB's
    * doubles hold them exactly). Scale: each of the k−1 rounds is ONE
    * corpus scan + an all-reduce max of a (dist, id) pair — never a
    * pairwise matrix; the chosen set lives on the driver (k vectors,
    * the IVF-centroid bounded-driver discipline).
    */
  private def q277(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 8
    val vq = Tables
      .embeddings(s, d)
      .select($"vec_id",
        expr("transform(embedding, x -> " +
          "CAST(ROUND(CAST(x AS DOUBLE) * 10000.0) AS BIGINT))").as("v"))
      .localCheckpoint()
    def vecOf(id: Long): Array[Long] =
      vq.where($"vec_id" === id).select($"v")
        .as[Array[Long]].head()
    def distExpr(c: Array[Long]): String =
      s"""aggregate(zip_with(v, array(${c.mkString(",")}L),
         |  (x, y) -> (x - y) * (x - y)), 0L, (acc, e) -> acc + e)"""
        .stripMargin
    var centers = Vector((0L, 0L)) // (vec_id, sel_dist2): the seed
    var centerVecs = Vector(vecOf(0L))
    for (_ <- 2 to k) {
      val md =
        if (centerVecs.length == 1) expr(distExpr(centerVecs.head))
        else least(centerVecs.map(c => expr(distExpr(c))): _*)
      val pick = vq
        .select($"vec_id", md.as("md"))
        .agg(max(struct($"md", (-$"vec_id").as("nid"))).as("m"))
        .select((-$"m.nid").as("vec_id"), $"m.md".as("md"))
        .as[(Long, Long)]
        .head()
      centers :+= pick
      centerVecs :+= vecOf(pick._1)
    }
    centers.zipWithIndex
      .map { case ((id, d2), i) => (i + 1L, id, d2) }
      .toDF("round", "center_id", "sel_dist2")
      .orderBy($"round")
  }

  private val q277Sql = {
    def sweep(n: Int): String = {
      val prev = if (n == 1) "k0" else s"k${n - 1}"
      s"""m$n AS MATERIALIZED (
         |  SELECT q.vec_id,
         |    MIN(CAST(q.daa + c.daa
         |      - 2 * list_dot_product(q.v, c.v) AS BIGINT)) AS md
         |  FROM vqd q, vqd c JOIN $prev k ON k.vec_id = c.vec_id
         |  GROUP BY q.vec_id),
         |p$n AS MATERIALIZED (
         |  SELECT vec_id, md FROM m$n
         |  ORDER BY md DESC, vec_id LIMIT 1),
         |k$n AS MATERIALIZED (
         |  SELECT vec_id FROM $prev
         |  UNION ALL SELECT vec_id FROM p$n)""".stripMargin
    }
    s"""WITH vqd AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> ROUND(x * 10000.0)) AS v,
       |    list_dot_product(
       |      list_transform(CAST(embedding AS DOUBLE[]),
       |        x -> ROUND(x * 10000.0)),
       |      list_transform(CAST(embedding AS DOUBLE[]),
       |        x -> ROUND(x * 10000.0))) AS daa
       |  FROM embeddings),
       |k0 AS (SELECT CAST(0 AS BIGINT) AS vec_id),
       |${(1 to 7).map(sweep).mkString(",\n")}
       |SELECT CAST(r AS BIGINT) AS round, vec_id AS center_id,
       |  CAST(md AS BIGINT) AS sel_dist2
       |FROM (
       |  SELECT 1 AS r, CAST(0 AS BIGINT) AS vec_id,
       |    CAST(0 AS BIGINT) AS md
       |  ${(1 to 7).map(n =>
            s"UNION ALL SELECT ${n + 1}, vec_id, md FROM p$n")
            .mkString("\n  ")}) u
       |ORDER BY round""".stripMargin
  }

  // ---- q296: exact k-means refresh iteration (index maintenance) -----

  /** q296: K-MEANS REFRESH ITERATION, EXACT — the maintenance job
    * behind every IVF-class vector index (q49/q127/q184 freeze their
    * coarse quantizer at build time; production stores re-center it as
    * the corpus drifts): run ONE full Lloyd iteration from
    * deterministic seed centroids (the 16 smallest vec_ids) and report
    * per cell what a reindex decision needs — population, centroid
    * MOVEMENT (L1 in micro units) and DEFECTORS (vectors whose nearest
    * centroid changes under the refreshed codebook, the reassignment
    * pressure that says rebuild). Empty cells keep their old centroid
    * (stated, deterministic).
    *
    * Exactness end-to-end under the hash gate — the one k-means sweep
    * that is bit-reproducible on ANY engine: components quantize to
    * integer micro units FIRST (ROUND half-away matches cross-engine),
    * squared-L2 distances are integer sums (≤ 64·(2·10⁶)², inside
    * Long; the oracle derives the SAME integers through exact-double
    * dot products — all magnitudes < 2⁵³), argmin tie-breaks by
    * (dist, cell), and means are per-dimension integer sums with
    * truncating DIV. Shape: the corpus is touched by two
    * assignment scans (a 16-entry broadcast codebook exploded per
    * vector — map-side only) and one posexplode aggregate to
    * (cell, dim) sums; everything else is 16-row math.
    */
  private def q296(s: SparkSession, d: String): DataFrame =
    kmeansRefresh(Tables.embeddings(s, d), k = 16)

  /** The q296 refresh over any `(vec_id, embedding)` frame — exposed
    * for Round14Spec's planted-cluster fixture (hand-computed means,
    * shifts, and a boundary vector that genuinely defects).
    */
  private[graft] def kmeansRefresh(emb: DataFrame, k: Int): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val v = emb
      .select($"vec_id", expr("transform(embedding, x -> " +
        "CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("mic"))
    val seeds = v.orderBy($"vec_id").limit(k)
      .select($"vec_id".as("cell"), $"mic".as("cmic"))
    val distExpr = "aggregate(zip_with(mic, c.cmic, " +
      "(a, b) -> (a - b) * (a - b)), 0L, (s, x) -> s + x)"
    def assignTo(codebook: DataFrame): DataFrame = {
      val row = codebook
        .agg(sort_array(collect_list(struct($"cell", $"cmic"))).as("cs"))
      v.crossJoin(broadcast(row))
        .select($"vec_id", $"mic", explode($"cs").as("c"))
        .select($"vec_id", $"mic", $"c.cell".as("cell"),
          expr(distExpr).as("dist"))
        .groupBy($"vec_id")
        .agg(min(struct($"dist", $"cell")).as("m"))
        .select($"vec_id", $"m.cell".as("cell"))
    }
    val a1 = assignTo(seeds).withColumnRenamed("cell", "cell0")
      .join(v, "vec_id")
      .localCheckpoint()
    val counts = a1.groupBy($"cell0").agg(count(lit(1)).as("n_vecs"))
    val newC = a1
      .select($"cell0", posexplode($"mic").as(Seq("i", "x")))
      .groupBy($"cell0", $"i")
      .agg(sum($"x").as("sx"), count(lit(1)).as("n"))
      .select($"cell0", $"i", expr("sx DIV n").as("m"))
      .groupBy($"cell0")
      .agg(expr("transform(sort_array(collect_list(struct(i, m))), " +
        "p -> p.m)").as("nmic"))
    val cents = seeds
      .join(newC.select($"cell0".as("cell"), $"nmic"), Seq("cell"), "left")
      .select($"cell", $"cmic", coalesce($"nmic", $"cmic").as("eff"))
      .localCheckpoint()
    val a2 = assignTo(cents.select($"cell", $"eff".as("cmic")))
      .withColumnRenamed("cell", "cell1")
    val defect = a1.select($"vec_id", $"cell0")
      .join(a2, "vec_id")
      .filter($"cell1" =!= $"cell0")
      .groupBy($"cell0").agg(count(lit(1)).as("n_defectors"))
    cents
      .select($"cell", expr("aggregate(zip_with(cmic, eff, " +
        "(a, b) -> abs(a - b)), 0L, (s, x) -> s + x)")
        .as("shift_micro_l1"))
      .join(counts.select($"cell0".as("cell"), $"n_vecs"), Seq("cell"),
        "left")
      .join(defect.select($"cell0".as("cell"), $"n_defectors"),
        Seq("cell"), "left")
      .select($"cell", coalesce($"n_vecs", lit(0L)).as("n_vecs"),
        $"shift_micro_l1",
        coalesce($"n_defectors", lit(0L)).as("n_defectors"))
      .orderBy($"cell")
  }

  private val q296Sql = {
    def dist(a: String, b: String) =
      s"""CAST(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[]))
         |  - 2 * list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
         |  + list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[]))
         |  AS BIGINT)""".stripMargin
    s"""WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x ->
      |    CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mic
      |  FROM embeddings),
      |seeds AS (
      |  SELECT vec_id AS cell, mic AS cmic FROM v
      |  ORDER BY vec_id LIMIT 16),
      |d1 AS (
      |  SELECT v.vec_id, v.mic, s.cell,
      |    ${dist("v.mic", "s.cmic")} AS dist
      |  FROM v, seeds s),
      |a1 AS (
      |  SELECT vec_id, mic, cell AS cell0 FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY dist, cell) AS rk FROM d1) t
      |  WHERE rk = 1),
      |sums AS (
      |  SELECT cell0, g.i, CAST(SUM(mic[g.i]) AS BIGINT) AS sx,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM a1, generate_series(1, 64) g(i) GROUP BY cell0, g.i),
      |newc AS (
      |  SELECT cell0 AS cell, list(sx // n ORDER BY i) AS nmic
      |  FROM sums GROUP BY cell0),
      |cents AS (
      |  SELECT s.cell, s.cmic, COALESCE(n.nmic, s.cmic) AS eff
      |  FROM seeds s LEFT JOIN newc n ON n.cell = s.cell),
      |cnts AS (
      |  SELECT cell0 AS cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
      |  FROM a1 GROUP BY 1),
      |d2 AS (
      |  SELECT a.vec_id, a.cell0, c.cell AS cell1,
      |    ${dist("a.mic", "c.eff")} AS dist
      |  FROM a1 a, cents c),
      |a2 AS (
      |  SELECT vec_id, cell0, cell1 FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY dist, cell1) AS rk FROM d2) t
      |  WHERE rk = 1),
      |def AS (
      |  SELECT cell0 AS cell, CAST(COUNT(*) AS BIGINT) AS n_defectors
      |  FROM a2 WHERE cell1 != cell0 GROUP BY 1),
      |sh AS (
      |  SELECT c.cell, CAST(SUM(ABS(c.cmic[g.i] - c.eff[g.i]))
      |    AS BIGINT) AS shift_micro_l1
      |  FROM cents c, generate_series(1, 64) g(i) GROUP BY c.cell)
      |SELECT s.cell, CAST(COALESCE(cnts.n_vecs, 0) AS BIGINT) AS n_vecs,
      |  sh.shift_micro_l1,
      |  CAST(COALESCE(def.n_defectors, 0) AS BIGINT) AS n_defectors
      |FROM seeds s
      |JOIN sh ON sh.cell = s.cell
      |LEFT JOIN cnts ON cnts.cell = s.cell
      |LEFT JOIN def ON def.cell = s.cell
      |ORDER BY s.cell""".stripMargin
  }

  /** q328: BULK ANN JOIN — [[annJoin]] registered: a query TABLE
    * (every 41st vector) against the IVF index in one distributed
    * plan, emitting each query's approximate top-k — the operator's
    * natural output, and PURELY the serving side (no quadratic gate
    * shape in the registered plan). No SQL oracle (centroid training
    * is the eigensolve-class boundary); Round17Spec gates (a)
    * nProbe = nCells ≡ [[exactJoinTopK]] row-for-row (the brute-force
    * twin is the GATE cost, not a serving cost — the q313 argument,
    * bulk-ified), (b) a recall floor at partial probes, (c) the probe
    * really prunes (total candidates scored ≪ |Q| × corpus), and (d)
    * the plan shape: the per-query top-k is a PARTITIONED
    * WindowGroupLimit and the cell join is an equi-join (no nested
    * loop anywhere).
    */
  private def q328(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val nCells = 16; val dims = 64; val k = 10; val nProbe = 4
    val cents = ivfCentroids(emb, nCells, dims)
    val queries = emb.where($"vec_id" % 41 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    annJoin(emb, queries, cents, nCells, nProbe, k, dims)
      .orderBy($"qid", $"rn")
  }

  /** q332: HARD-NEGATIVE MINING — the prep operator of contrastive
    * embedding training: for each anchor, the top-5 candidates in the
    * cosine band [0.30, 0.95) — semantically close enough to be an
    * informative negative, far enough to not be a near-duplicate (the
    * complement of the q55/q147 dedup verdict band, so the dedup
    * pipeline and the miner share one geometry). Label-blocked like
    * the whole q55 family (never corpus²); per-anchor top-k is a
    * partitioned WindowGroupLimit. Exact integer/ROUND(cos,4)
    * arithmetic end to end, so unlike the ANN family this vector op is
    * FULLY ORACLED — DuckDB replays the band join bit-for-bit. At
    * corpus scale the same band filter composes with q328's annJoin
    * for the probe-routed variant; this exact arm is the verdict gate.
    */
  private def q332(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val anchors = emb.where($"vec_id" % 41 === 0)
      .select($"label", $"vec_id".as("qid"), $"embedding".as("qe"))
    val scored = anchors
      .join(emb.select($"label", $"vec_id", $"embedding"), Seq("label"))
      .filter($"vec_id" =!= $"qid")
      .withColumn("cos", round(graft.functions.VectorExprs
        .vecCosine(s, $"embedding", $"qe"), 4))
      .filter($"cos" >= 0.30 && $"cos" < 0.95)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
    scored
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5)
      .select($"qid", $"vec_id", $"cos", $"rn")
      .orderBy($"qid", $"rn")
  }

  private val q332Sql =
    """WITH scored AS (
      |  SELECT a.vec_id AS qid, b.vec_id AS vec_id,
      |    ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
      |                           CAST(b.embedding AS DOUBLE[])) /
      |      (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
      |                             CAST(a.embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
      |                             CAST(b.embedding AS DOUBLE[])))), 4)
      |      AS cos
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND b.vec_id <> a.vec_id
      |  WHERE a.vec_id % 41 = 0),
      |banded AS (
      |  SELECT qid, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY cos DESC, vec_id) AS rn
      |  FROM scored WHERE cos >= 0.30 AND cos < 0.95)
      |SELECT qid, vec_id, cos, CAST(rn AS INT) AS rn
      |FROM banded WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q296_kmeans_refresh", q296, Some(q296Sql)),
    // hard-negative mining: exact label-blocked band join — the one
    // FULLY ORACLED member of the vector retrieval family
    QueryDef("q332_hard_negatives", q332, Some(q332Sql)),
    // bulk ANN join: approximate by construction — Round17Spec gates
    // full-probe ≡ exact equivalence, the recall floor, and the
    // WindowGroupLimit top-k plan shape
    QueryDef("q328_ann_join", q328, None),
    // PCA: eigensolve is not SQL-expressible — Round14Spec gates the
    // scatter exactness, eigenpair residuals, and planted-axis recovery
    QueryDef("q274_pca_variance", q274, None),
    QueryDef("q277_kcenter_coreset", q277, Some(q277Sql)),
    QueryDef("q40_cosine_topk", q40, Some(q40Sql)),
    // greedy serving-stage re-rank: not SQL-expressible — Round11Spec
    // re-derives each pick's MMR objective from the raw embeddings
    QueryDef("q190_mmr_rerank", q190, None),
    QueryDef("q41_ann_pairs", q41, None),
    QueryDef("q42_embedding_norms", q42, Some(q42Sql)),
    QueryDef("q49_ivf_topk", q49, None),
    // sketch class (ADC-approximate scores) — gated by Round10Spec's
    // recall/ADC-error bounds instead of a SQL oracle, like q49/q41
    QueryDef("q127_ivfpq_topk", q127, None),
    // graph-index ANN: approximate by construction — recall vs the
    // exact scan and the bounded-probe claim are Round11Spec gates
    QueryDef("q181_knn_graph_ann", q181, None),
    // incremental IVF maintenance: merged-index probe ≡ rebuilt-index
    // probe is the Round11Spec gate (exact equivalence, frozen coarse
    // quantizer); search recall is q49's story
    QueryDef("q184_ivf_incremental", q184, None),
    QueryDef("q263_filtered_ann", q263, None),
    // sketch class (cluster-bounded candidate generation) — gated by
    // Round10Spec's brute-force-equivalence + consistency tests
    QueryDef("q147_semantic_dedup", q147, None),
    // recall-vs-cost comparison across the index family: internals are
    // not SQL-replayable — Round11Spec gates recall floors + cost order
    QueryDef("q200_ann_comparison", q200, None),
    QueryDef("q99_hof_arrays", q99, Some(q99Sql)),
    QueryDef("q108_int8_quant", q108, Some(q108Sql)),
  )
}
