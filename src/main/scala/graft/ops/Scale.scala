package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

/** Physical scale patterns as first-class operators: the three plan
  * shapes that decide whether a 100 TB join/aggregate is feasible at
  * all — runtime bloom prefilters (ship a sketch of the small side into
  * the big side's scan), bucketed storage (pre-shuffle once at write
  * time, join shuffle-free forever after), and mergeable sketches
  * (aggregate state that composes across partitions/shards/days).
  */
object Scale {

  /** Register the native runtime-filter expressions under callable
    * names: `graft_bloom_agg` (Catalyst's `BloomFilterAggregate` — the
    * one-pass mergeable bloom build `InjectRuntimeFilter` uses) and
    * `graft_might_contain` (`BloomFilterMightContain` — the codegen'd
    * probe that deserializes the filter once per task, not per row).
    * Neither is in the public FunctionRegistry, but both are public
    * catalyst classes; a temp-function registration is the supported
    * way to hand them Columns.
    */
  private def registerBloomFns(s: SparkSession): Unit = {
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_agg",
      exprs => new BloomFilterAggregate(exprs(0), exprs(1))
        .toAggregateExpression(),
      "built-in",
    )
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_might_contain",
      exprs => BloomFilterMightContain(exprs(0), exprs(1)),
      "built-in",
    )
  }

  /** One-pass native bloom build over `key` of `dim`, sized from the
    * dim side's actual row count (never a hardcoded capacity — an
    * undersized filter silently degrades selectivity, though never
    * exactness). Keys are `xxhash64`ed exactly as
    * `InjectRuntimeFilter` does, so any key type works and the probe
    * side must hash identically ([[bloomProbe]]). Returns `None` for an
    * empty build side (the caller's join is empty anyway).
    */
  def bloomBuild(dim: DataFrame, key: Column): Option[Array[Byte]] = {
    val s = dim.sparkSession
    registerBloomFns(s)
    // exact count, not approx: the count sizes the filter's capacity
    // (an undersized filter degrades fpp silently). The filtered dim is
    // cached across the count+aggregate pair so the build is ONE source
    // scan, not two — on a cluster the cache is executor-local, so the
    // second pass reads memory instead of repeating the dim scan.
    val cached = dim.cache()
    try {
      val n = cached.count()
      if (n == 0L) None
      else
        Option(
          cached
            .select(call_function("graft_bloom_agg", xxhash64(key), lit(n))
              .as("bf")).head.getAs[Array[Byte]](0))
    } finally cached.unpersist()
  }

  /** Codegen'd membership probe against a built bloom: the filter bytes
    * ride the plan as a binary literal and `BloomFilterMightContain`
    * deserializes them once per task. On a cluster the same pair ships
    * as a scalar-subquery + broadcast (what
    * `spark.sql.optimizer.runtimeFilter.bloomFilter.enabled` injects);
    * the explicit form here keeps the build deterministic and lets a
    * pipeline reuse one filter across many probe queries.
    */
  def bloomProbe(s: SparkSession, bloom: Option[Array[Byte]],
      key: Column): Column = {
    registerBloomFns(s)
    bloom.fold(lit(false))(b =>
      call_function("graft_might_contain", lit(b), xxhash64(key)))
  }

  /** LAYOUT-ADAPTIVE compute spread (r20, guide §2.5/§6): hash-spread
    * `df` across the session's cores — but ONLY when its file scan has
    * fewer splits than the session parallelism. The problem it solves:
    * at bench SFs a table arrives as ONE parquet file, so every
    * per-row-expensive stage UPSTREAM of the first exchange (shingle
    * explodes, per-gram md5s, kernel hashing) runs on ONE core while 31
    * idle — r20 metrics showed q301 at 4.6 s wall with 5 tasks and
    * 4.2 s of single-task CPU, q343/q344/q132/q264 the same shape (the
    * q243 fan documented this first: 38 s single-split vs ~4 s spread).
    * The spread is CONDITIONAL on the observed layout, not a constant:
    * estimated splits = Σ file bytes / `maxPartitionBytes` (the same
    * arithmetic FilePartition uses, ignoring the per-file open-cost
    * packing — an UNDERestimate of splits never suppresses a needed
    * spread) — at production scale a corpus scan has thousands of
    * splits, the condition never fires, and the payload-sized exchange
    * this would add (the objection to spreading TEXT) simply is not in
    * the plan. Keyed by a real column (deterministic under task
    * retries — guide §2.5's round-robin/rand hazard), width = the
    * session's `defaultParallelism` so the driver's reduced-core PERF
    * runs scale it down automatically.
    */
  def spreadIfNarrow(df: DataFrame, key: Column): DataFrame = {
    val s = df.sparkSession
    val cores = s.sparkContext.defaultParallelism
    val maxSplit = math.max(1L,
      s.sessionState.conf.filesMaxPartitionBytes)
    val splits =
      try {
        val files = df.inputFiles
        // non-file sources (ExistingRDD, cached frames) list empty: the
        // helper cannot SEE their layout, and the conservative default
        // on estimation failure at scale is identity (assume wide), not
        // a payload-sized exchange (r20 verdict item 7 / advice)
        if (files.isEmpty) return df
        // file count is a lower bound on splits — when it already meets
        // the parallelism, skip the per-file getFileStatus RPCs
        // entirely (O(files) driver-side namenode round-trips at
        // production file counts, for a guaranteed no-op)
        if (files.length >= cores) return df
        val hconf = s.sparkContext.hadoopConfiguration
        val bytes = files.map { f =>
          val p = new org.apache.hadoop.fs.Path(new java.net.URI(f))
          p.getFileSystem(hconf).getFileStatus(p).getLen
        }.sum
        math.max(1L, (bytes + maxSplit - 1) / maxSplit)
      } catch {
        // a listing failure (dropped file, odd scheme) must not fail
        // the query over a load-balancing hint — and must not FIRE it
        // either: identity is the safe default when the layout is
        // unknowable (assume wide)
        case scala.util.control.NonFatal(_) => return df
      }
    if (splits >= cores) df else df.repartition(cores, key)
  }

  /** q87: bloom-prefiltered semi-join. The dim side (urgent orders) is
    * sketched into a bloom filter in one native-aggregate pass; the
    * fact scan drops non-matching rows BEFORE the join shuffle; the
    * final left-semi join makes the result exact (the bloom admits ~1%
    * false positives, so it is only ever a volume reducer — the same
    * prefilter/exact-join split Catalyst's InjectRuntimeFilter applies
    * to shuffle joins, done here explicitly and deterministically).
    *
    * At 100 TB: the sketch is ~1.2 MB per million keys at the default
    * fpp — broadcast-able far beyond the size where a broadcast hash
    * join of the keys themselves stops fitting; the fact-side shuffle
    * shrinks by the prefilter's selectivity. The probe is a native
    * `might_contain` expression inside whole-stage codegen (no ScalaUDF
    * — locked by PlanSpec), capacity-sized from the dim count (the
    * over-capacity case is pinned by Round5Spec).
    */
  private def q87(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val urgent = Tables
      .orders(s, d)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey")
    val bf = bloomBuild(urgent, $"o_orderkey")
    Tables
      .lineitem(s, d)
      .filter(bloomProbe(s, bf, $"l_orderkey"))
      .join(urgent, $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_items"), sum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  private val q87Sql =
    """SELECT l_returnflag, COUNT(*) AS n_items,
      |  SUM(l_quantity) AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
      |                     WHERE o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** q88: co-located join via bucketed tables — pay the shuffle ONCE at
    * write time (`bucketBy` on the join key), then every subsequent
    * join on that key is exchange-free: both scans report the same
    * `HashPartitioning(custkey, 16)`, so the SortMergeJoin runs with no
    * Exchange on either side (locked by PlanSpec). This is THE pattern
    * for a fact table joined daily against the same dimensions at
    * 100 TB — bucket counts are chosen once per table (here 16; real
    * deployments use hundreds) and each side is `repartition`ed onto
    * its buckets before the write so every bucket is a single sorted
    * file.
    *
    * The bucketed copies are session-catalog tables (in-memory catalog,
    * parquet under `spark.sql.warehouse.dir`), (re)written per session
    * and keyed by the source dir so different SFs never collide.
    */
  private def q88(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    ensureBucketedTables(s, d)
    val (ot, ct) = bucketedTables(d)
    bucketedJoin(s, ot, ct)
      .groupBy($"c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(round($"o_totalprice" * 100).cast("long")).as("revenue_cents"),
      )
      .orderBy($"c_mktsegment")
  }

  /** Deterministic catalog-table tag for a source dir (exposed so tests
    * and the bench warm-up can address the exact tables, not a prefix
    * scan of the catalog).
    */
  def bucketTag(d: String): String = java.lang.Long.toHexString(
    d.getBytes("UTF-8").foldLeft(17L)(31L * _ + _))

  /** Catalog names of the bucketed copies of orders/customer for `d`. */
  def bucketedTables(d: String): (String, String) =
    (s"graft_bk_orders_${bucketTag(d)}", s"graft_bk_customer_${bucketTag(d)}")

  /** Idempotently (re)build the [[bucketedTables]] for source dir `d`;
    * true when the catalog lacked them and they were built. Called by
    * q88 and by the bench warm-up — the write is one-time table
    * PREPARATION, not part of the join pattern q88 demonstrates, so the
    * bench pre-builds here to keep the timed body join-only.
    */
  def ensureBucketedTables(s: SparkSession, d: String): Boolean = {
    import s.implicits._
    val (ot, ct) = bucketedTables(d)
    val absent = !s.catalog.tableExists(ot) || !s.catalog.tableExists(ct)
    if (absent) {
      // the warehouse dir outlives the in-memory catalog (a fresh JVM
      // forgets the table but its files remain), and CTAS refuses a
      // managed-table location that already exists — clear both
      Seq(ot, ct).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val p = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), t)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      Tables.orders(s, d)
        .repartition(16, $"o_custkey")
        .write.bucketBy(16, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable(ot)
      Tables.customer(s, d)
        .repartition(16, $"c_custkey")
        .write.bucketBy(16, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable(ct)
    }
    absent
  }

  /** The exchange-free join of the two bucketed tables (factored out so
    * PlanSpec can assert its physical plan has no Exchange).
    */
  def bucketedJoin(s: SparkSession, ordersTable: String,
      customerTable: String): DataFrame =
    s.table(ordersTable).join(s.table(customerTable),
      col("o_custkey") === col("c_custkey"))

  private val q88Sql =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |    AS revenue_cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** q91: mergeable HLL sketches (Apache DataSketches via Spark's
    * `hll_sketch_agg`/`hll_union_agg`) — the distributed-aggregation
    * contract made visible: per-month sketches union into exactly the
    * sketch a single pass over the whole table builds, so partial
    * aggregates can be computed per shard/day/partition and merged
    * later without drift. The query PROVES it on the driver data:
    * `est_merged` (union of 84 monthly sketches) equals `est_direct`
    * (one global sketch), alongside the exact distinct count.
    *
    * No DuckDB oracle by design — its approx_count_distinct is a
    * different HLL implementation; Round4Spec asserts merged ≡ direct
    * and both within 5% of exact.
    */
  private def q91(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val monthly = Tables
      .orders(s, d)
      .groupBy(date_trunc("month", $"o_orderdate").as("month"))
      .agg(hll_sketch_agg($"o_custkey", lit(12)).as("sk"))
    val merged = monthly
      .agg(hll_sketch_estimate(hll_union_agg($"sk", lit(false)))
        .as("est_merged"), count(lit(1)).as("n_sketches"))
    val direct = Tables
      .orders(s, d)
      .agg(
        hll_sketch_estimate(hll_sketch_agg($"o_custkey", lit(12)))
          .as("est_direct"),
        countDistinct($"o_custkey").as("exact_distinct"),
      )
    merged
      .crossJoin(direct)
      .select(
        $"n_sketches",
        $"est_merged",
        $"est_direct",
        ($"est_merged" === $"est_direct").as("merge_exact"),
        $"exact_distinct",
      )
  }

  /** q106: single-scan pipeline QC metrics via `observe()` — the audit
    * counters every production training-data job must report (rows seen,
    * value mass, event-time freshness range) attached to the ONE pass a
    * filtering job already makes over its input. `CollectMetrics` is an
    * optimizer barrier: the downstream `event_type = 'click'` filter
    * cannot be pushed below it, so the whole-input counters genuinely
    * cover every row while the job's own action (counting the kept
    * subset) drives the scan — no second read of a 100 TB input just to
    * audit it. The metrics themselves ARE this query's result row;
    * the DuckDB oracle recomputes all of them as plain aggregates, so a
    * green row proves the observed counters equal a dedicated pass.
    * `observe` forbids distinct aggregates (metrics must be mergeable
    * across tasks — same law as any 1000-executor counter), which is why
    * the freshness range is min/max, not a cardinality.
    */
  private def q106(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val obs = org.apache.spark.sql.Observation()
    val rowsKept = Tables
      .events(s, d)
      .observe(obs,
        count(lit(1)).as("rows_seen"),
        sum(expr("CAST(ROUND(value * 100) AS LONG)")).as("cents_total"),
        min(unix_micros($"ts")).as("min_us"),
        max(unix_micros($"ts")).as("max_us"))
      .filter($"event_type" === "click")
      .count() // the single scan: filtered action + whole-input metrics
    val m = obs.get
    // COUNT observes 0 on an empty input but SUM/MIN/MAX observe NULL —
    // fail loudly before any cast can NPE: whole-input QC metrics over
    // an empty feed are a pipeline bug upstream, not a zero row
    require(m("rows_seen").asInstanceOf[Long] > 0L,
      "q106: events input is empty — sum/min/max QC metrics are undefined")
    Seq((
      m("rows_seen").asInstanceOf[Long],
      m("cents_total").asInstanceOf[Long],
      m("min_us").asInstanceOf[Long],
      m("max_us").asInstanceOf[Long],
      rowsKept,
    )).toDF("rows_seen", "cents_total", "min_us", "max_us", "rows_kept")
  }

  private val q106Sql =
    """SELECT COUNT(*) AS rows_seen,
      |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
      |    AS cents_total,
      |  MIN(epoch_us(ts)) AS min_us,
      |  MAX(epoch_us(ts)) AS max_us,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS rows_kept
      |FROM events""".stripMargin

  /** q110: group-size histogram — the skew DIAGNOSTIC run before
    * choosing a mitigation (salting q47, AQE splitting, broadcast):
    * how many keys are at each order of magnitude, and how many rows
    * the biggest keys cover. Two hash-aggs: the user_id rollup is the
    * only data-sized shuffle (map-side combined — one row per key per
    * task), the magnitude rollup shuffles one row per KEY. Magnitude =
    * decimal digit count of the group size (`length(cast(n as
    * string))`) — integer and identical across engines, where a
    * floor(log2) on doubles could disagree at exact powers of two.
    * On a power-law feed the top bucket holding a large rows_covered
    * share while n_keys ≈ 1 is the signature that says "salt that key"
    * — this query is how the q47/AQE decision gets made from data
    * instead of from an incident.
    */
  private def q110(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables
      .events(s, d)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n"))
      .groupBy(length($"n".cast("string")).cast("long").as("magnitude"))
      .agg(
        count(lit(1)).as("n_keys"),
        min($"n").as("min_n"),
        max($"n").as("max_n"),
        sum($"n").as("rows_covered"),
      )
      .orderBy($"magnitude")
  }

  private val q110Sql =
    """WITH g AS (SELECT user_id, COUNT(*) AS n FROM events
      |           GROUP BY user_id)
      |SELECT CAST(LENGTH(CAST(n AS VARCHAR)) AS BIGINT) AS magnitude,
      |  COUNT(*) AS n_keys, MIN(n) AS min_n, MAX(n) AS max_n,
      |  CAST(SUM(n) AS BIGINT) AS rows_covered
      |FROM g GROUP BY 1 ORDER BY magnitude""".stripMargin

  /** Decode a `count_min_sketch` aggregate's binary into the JVM-side
    * sketch object — the ONE bounded driver-side read (a few KB,
    * constant in corpus size), same class as q91's sketch handling.
    */
  private[graft] def readCms(
      bytes: Array[Byte]): org.apache.spark.util.sketch.CountMinSketch =
    org.apache.spark.util.sketch.CountMinSketch
      .readFrom(new java.io.ByteArrayInputStream(bytes))

  /** q137: COUNT-MIN heavy hitters — the frequency member of the
    * mergeable-sketch family (q91 HLL = distinct cardinality, q72 GK =
    * quantiles, this = per-key counts): a fixed-seed `count_min_sketch`
    * aggregate compresses the per-user frequency table into a few-KB
    * counter grid that merges by addition — the structure a 1000-node
    * hot-key monitor ships to the driver instead of a 10⁹-row groupBy,
    * and the sketch-side answer to the exact q110 skew histogram. The
    * sketch is deterministic (counter sums under a fixed seed —
    * partitioning-independent), so the row set is stable; estimates
    * carry the one-sided CMS guarantee est ≥ exact, bounded over-count
    * w.h.p. Output: the exact top-10 hot keys with exact vs estimated
    * counts. No DuckDB oracle (no CMS in DuckDB — same class as q91);
    * Round10Spec gates the bound AND per-shard-sketches-merged ≡
    * one-global-sketch on every key.
    */
  private def q137(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bytes = Tables
      .events(s, d)
      .agg(expr("count_min_sketch(user_id, 0.001d, 0.99d, 42)"))
      .head.getAs[Array[Byte]](0)
    val cms = readCms(bytes)
    val top = Tables
      .events(s, d)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("exact"))
      .orderBy($"exact".desc, $"user_id")
      .limit(10)
      .as[(Long, Long)]
      .collect()
    top.toSeq
      .map { case (u, ex) => (u, ex, cms.estimateCount(u)) }
      .toDF("user_id", "exact", "est_cms")
      .withColumn("overestimate", $"est_cms" - $"exact")
  }

  /** q142: declarative data-quality CONSTRAINT AUDIT — the Deequ-style
    * contract check a 100 TB ingest runs before publishing a partition:
    * a fixed suite of constraints (row volume, key uniqueness, column
    * completeness, value-domain membership, numeric bounds, freshness)
    * evaluated in ONE scan and shipped as one row per constraint with
    * the observed metric, the threshold, and the verdict.
    *
    * Where q106 attaches audit counters to another action via
    * `observe()`, this is the standalone gate whose RESULT is the audit:
    * every constraint is an aggregate over the same single pass (one
    * map-side-combinable agg, no shuffle beyond the 1-row exchange), and
    * `stack` unpivots the audit row into the per-constraint report —
    * adding a constraint is one more aggregate column, not another scan.
    * All metrics are exact integers (ppm rates, counts, epoch micros),
    * so the verdict column is reproducible cross-engine. The suite
    * includes a deliberately failing domain constraint ('error' is not a
    * whitelisted event type) — an audit harness that cannot show a
    * failure verifies nothing.
    */
  private def q142(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables
      .events(s, d)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct($"event_id").as("n_ids"),
        sum(when($"user_id".isNotNull, 1L).otherwise(0L)).as("n_uid"),
        sum(
          when($"event_type".isin("click", "view", "purchase", "signup"),
            1L).otherwise(0L)).as("n_dom"),
        sum(when($"value" >= 0 && $"value" <= 400.0, 1L).otherwise(0L))
          .as("n_bound"),
        max(unix_micros($"ts")).as("max_us"),
      )
      .select(
        expr(
          """stack(6,
            |  'bounds_value_0_400', (n_bound * 1000000) DIV n_rows, 950000L,
            |  'completeness_user_id', (n_uid * 1000000) DIV n_rows, 999000L,
            |  'domain_event_type', (n_dom * 1000000) DIV n_rows, 990000L,
            |  'freshness_max_ts', max_us, 1706227200000000L,
            |  'min_rows', n_rows, 1000L,
            |  'uniqueness_event_id', (n_ids * 1000000) DIV n_rows, 1000000L
            |) AS (check_name, observed, threshold)""".stripMargin),
      )
      .withColumn("pass",
        when($"observed" >= $"threshold", 1L).otherwise(0L))
      .orderBy($"check_name")
  }

  private val q142Sql =
    """WITH agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids,
      |    CAST(SUM(CASE WHEN user_id IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_uid,
      |    CAST(SUM(CASE WHEN event_type IN
      |        ('click', 'view', 'purchase', 'signup') THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_dom,
      |    CAST(SUM(CASE WHEN value >= 0 AND value <= 400.0 THEN 1 ELSE 0
      |      END) AS BIGINT) AS n_bound,
      |    CAST(epoch_us(MAX(ts)) AS BIGINT) AS max_us
      |  FROM events),
      |audit AS (
      |  SELECT 'bounds_value_0_400' AS check_name,
      |         (n_bound * 1000000) // n_rows AS observed,
      |         CAST(950000 AS BIGINT) AS threshold FROM agg
      |  UNION ALL SELECT 'completeness_user_id',
      |         (n_uid * 1000000) // n_rows, 999000 FROM agg
      |  UNION ALL SELECT 'domain_event_type',
      |         (n_dom * 1000000) // n_rows, 990000 FROM agg
      |  UNION ALL SELECT 'freshness_max_ts', max_us,
      |         1706227200000000 FROM agg
      |  UNION ALL SELECT 'min_rows', n_rows, 1000 FROM agg
      |  UNION ALL SELECT 'uniqueness_event_id',
      |         (n_ids * 1000000) // n_rows, 1000000 FROM agg)
      |SELECT check_name, observed, threshold,
      |  CAST(CASE WHEN observed >= threshold THEN 1 ELSE 0 END AS BIGINT)
      |    AS pass
      |FROM audit ORDER BY check_name""".stripMargin

  /** q159: Benford first-digit audit — the statistical fraud/synthetic-
    * data screen q142's declarative constraints cannot express: natural
    * multi-scale amounts follow log-uniform leading digits (30.1% 1s …
    * 4.6% 9s), and a per-type digit histogram that deviates flags
    * fabricated or clamped data. All exact integers: leading digit of
    * positive cents via string head, counts + share in ppm (floor), the
    * expected Benford ppm staged as a 9-row literal joined in so the
    * deviation column is part of the audited row. One scan, one
    * (type × 9)-cardinality hash-agg with map-side combine, window only
    * over that tiny result.
    */
  private def q159(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val expected = Seq(
      (1, 301030L), (2, 176091L), (3, 124939L), (4, 96910L), (5, 79181L),
      (6, 66947L), (7, 57992L), (8, 51153L), (9, 45757L),
    ).toDF("digit", "benford_ppm")
    val digits = Tables
      .events(s, d)
      .select($"event_type",
        expr("CAST(ROUND(value * 100) AS LONG)").as("cents"))
      .where($"cents" > 0L)
      .withColumn("digit",
        substring($"cents".cast("string"), 1, 1).cast("int"))
      .groupBy($"event_type", $"digit")
      .agg(count(lit(1)).as("n"))
    digits
      .withColumn("total", sum($"n").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"event_type")))
      .withColumn("share_ppm", expr("(n * 1000000) div total"))
      .join(broadcast(expected), Seq("digit"))
      .withColumn("dev_ppm", abs($"share_ppm" - $"benford_ppm"))
      .select($"event_type", $"digit", $"n", $"share_ppm", $"benford_ppm",
        $"dev_ppm")
      .orderBy($"event_type", $"digit")
  }

  private val q159Sql =
    """WITH expected(digit, benford_ppm) AS (VALUES
      |  (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
      |  (6, 66947), (7, 57992), (8, 51153), (9, 45757)
      |), d AS (
      |  SELECT event_type,
      |    CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
      |    COUNT(*) AS n
      |  FROM (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
      |        FROM events) t
      |  WHERE cents > 0 GROUP BY 1, 2
      |), sh AS (
      |  SELECT event_type, digit, n,
      |    (n * 1000000) // CAST(SUM(n) OVER (PARTITION BY event_type)
      |      AS BIGINT) AS share_ppm
      |  FROM d
      |)
      |SELECT s.event_type, s.digit, s.n, s.share_ppm,
      |  CAST(e.benford_ppm AS BIGINT) AS benford_ppm,
      |  ABS(s.share_ppm - e.benford_ppm) AS dev_ppm
      |FROM sh s JOIN expected e USING (digit)
      |ORDER BY s.event_type, s.digit""".stripMargin

  /** q163: cross-table REFERENTIAL-INTEGRITY audit — the relationship
    * half of data-quality (q142 checks one table's contracts, q159 its
    * value distribution; this checks the star schema's edges): for each
    * FK relationship, child rows joined against the parent's distinct
    * key set, orphans counted in the same single pass (left join +
    * null-check — one shuffle per relationship, dims broadcast, and the
    * per-relationship output is ONE row regardless of corpus size).
    * Joining the parent's DISTINCT keys is part of the semantics, not
    * paranoia: a duplicated parent key would otherwise multiply child
    * rows and corrupt both counts.
    */
  private def q163(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def rel(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame =
      child
        .join(parent.select(col(pkey)).dropDuplicates(pkey),
          col(key) === col(pkey), "left_outer")
        .agg(
          lit(name).as("relationship"),
          count(lit(1)).as("n_child"),
          sum(when(col(pkey).isNull, 1L).otherwise(0L)).as("n_orphans"),
        )
        .select($"relationship", $"n_child", $"n_orphans")
    rel("customer->nation", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey")
      .unionByName(rel("lineitem->orders", Tables.lineitem(s, d),
        "l_orderkey", Tables.orders(s, d), "o_orderkey"))
      .unionByName(rel("lineitem->part", Tables.lineitem(s, d),
        "l_partkey", Tables.part(s, d), "p_partkey"))
      .unionByName(rel("lineitem->supplier", Tables.lineitem(s, d),
        "l_suppkey", Tables.supplier(s, d), "s_suppkey"))
      .unionByName(rel("orders->customer", Tables.orders(s, d),
        "o_custkey", Tables.customer(s, d), "c_custkey"))
      .orderBy($"relationship")
  }

  private val q163Sql =
    """SELECT * FROM (
      |  SELECT 'customer->nation' AS relationship, COUNT(*) AS n_child,
      |    CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_orphans
      |  FROM customer c LEFT JOIN
      |    (SELECT DISTINCT n_nationkey AS k FROM nation) p
      |    ON c.c_nationkey = p.k
      |  UNION ALL
      |  SELECT 'lineitem->orders', COUNT(*),
      |    CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem l LEFT JOIN
      |    (SELECT DISTINCT o_orderkey AS k FROM orders) p
      |    ON l.l_orderkey = p.k
      |  UNION ALL
      |  SELECT 'lineitem->part', COUNT(*),
      |    CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem l LEFT JOIN
      |    (SELECT DISTINCT p_partkey AS k FROM part) p
      |    ON l.l_partkey = p.k
      |  UNION ALL
      |  SELECT 'lineitem->supplier', COUNT(*),
      |    CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM lineitem l LEFT JOIN
      |    (SELECT DISTINCT s_suppkey AS k FROM supplier) p
      |    ON l.l_suppkey = p.k
      |  UNION ALL
      |  SELECT 'orders->customer', COUNT(*),
      |    CAST(SUM(CASE WHEN p.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM orders o LEFT JOIN
      |    (SELECT DISTINCT c_custkey AS k FROM customer) p
      |    ON o.o_custkey = p.k
      |) t ORDER BY relationship""".stripMargin

  /** Engine-independent total-order key for profiler min/max, in the
    * column's NATIVE order (doubles through exact integer cents,
    * timestamps through unix micros, everything else as itself) — a
    * string-typed min over rendered values would report lexicographic
    * extremes ('9999…' as the max over keys 1..60000), which is not
    * what a describe/Deequ profile means by min/max. Shared by the
    * exact (q171) and approx (q180) profile paths.
    */
  private def profileOrderKey(
      df: DataFrame)(c: String): Column = df.schema(c).dataType match {
    case org.apache.spark.sql.types.DoubleType =>
      expr(s"CAST(ROUND($c * 100) AS LONG)")
    case org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType =>
      unix_micros(col(c).cast("timestamp"))
    case _ => col(c)
  }

  /** q171: schema-driven COLUMN PROFILER, EXACT distincts — the
    * `describe`/Deequ-profile deliverable: one row per column of the
    * `orders` table with row count, null count, distinct count, and
    * min/max rendered to strings. The profiling expressions are
    * GENERATED from the DataFrame's own schema (the operator works on
    * any table unseen at compile time — column-generic metaprogramming,
    * not a hand-written query per table). Exact multi-column distincts
    * in ONE wide aggregate would go through Catalyst's `Expand` — the
    * input replicated ×(columns+1) into the first shuffle, which for a
    * near-unique column barely reduces map-side (the round-10 plan this
    * replaces, and the one profile plan NOT to ship at 100 TB). Instead
    * each column profiles in its OWN single-distinct aggregate — the
    * no-Expand `planAggregateWithOneDistinct` shape, each branch's scan
    * pruned to that one column, shuffling only that column's distinct
    * values — and the 6 one-row results union. PlanSpec locks the
    * no-Expand claim; q180 is the one-scan approximate twin.
    */
  private def q171(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val df = Tables.orders(s, d)
    val key = profileOrderKey(df) _
    val perCol = df.schema.fieldNames.toSeq.map { c =>
      df.groupBy()
        .agg(
          count(lit(1)).as("n_rows"),
          count(col(c)).as("n_notnull"),
          count_distinct(col(c)).as("n_distinct"),
          min(key(c)).cast("string").as("min_str"),
          max(key(c)).cast("string").as("max_str"),
        )
        .select(lit(c).as("column_name"), $"n_rows", $"n_notnull",
          ($"n_rows" - $"n_notnull").as("n_null"), $"n_distinct",
          $"min_str", $"max_str")
    }
    perCol.reduce(_.unionByName(_)).orderBy($"column_name")
  }

  /** q180: the APPROXIMATE profile path — same deliverable as q171 but
    * every distinct count is an `approx_count_distinct` HLL++ sketch
    * (rsd 0.05), so the WHOLE profile is genuinely ONE pass over ONE
    * scan: all sketches and min/max accumulate in a single wide
    * no-Expand aggregate (sketches are ordinary partial-mergeable
    * aggregates; nothing replicates), then a `stack` unpivot. This is
    * what a production profiler (Deequ) ships for wide tables at
    * 100 TB: the exact path's one-scan-per-column trade stops paying
    * when the table has 300 columns. Approximate output can't be
    * DuckDB-hashed (different sketch internals), so the driver records
    * rows>0 and Round11Spec gates every column's estimate within ±15%
    * (3×rsd) of q171's exact counts, with the count/null/min/max
    * columns required EQUAL to the exact profile.
    */
  private def q180(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val df = Tables.orders(s, d)
    val key = profileOrderKey(df) _
    val cols = df.schema.fieldNames.toSeq
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nn"),
        approx_count_distinct(col(c), 0.05).as(s"${c}__nd"),
        min(key(c)).cast("string").as(s"${c}__min"),
        max(key(c)).cast("string").as(s"${c}__max"),
      )
    }
    val wide = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stackExpr = cols
      .map(c => s"'$c', ${c}__nn, ${c}__nd, ${c}__min, ${c}__max")
      .mkString(s"stack(${cols.size}, ", ", ",
        ") AS (column_name, n_notnull, n_approx_distinct, min_str, max_str)")
    wide
      .select($"n_rows", expr(stackExpr))
      .select($"column_name", $"n_rows", $"n_notnull",
        ($"n_rows" - $"n_notnull").as("n_null"), $"n_approx_distinct",
        $"min_str", $"max_str")
      .orderBy($"column_name")
  }

  /** q172: GINI concentration of customer spend per market segment —
    * the inequality metric a corpus curator runs to measure source /
    * customer domination (0 = everyone equal, →1 = one key owns
    * everything), here on exact integers end to end: with spend ranked
    * ascending (cents, then custkey — total order), Gini =
    * (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx), whose NUMERATOR and DENOMINATOR
    * are exact 128-bit integers — report both plus the floor-ppm ratio,
    * so the statistic hash-matches, never "approximately". One
    * custkey-join + one rank window per segment; everything after the
    * rank is a segment-cardinality aggregate.
    */
  private def q172(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spend = Tables
      .orders(s, d)
      .groupBy($"o_custkey")
      .agg(sum(expr("CAST(ROUND(o_totalprice * 100) AS LONG)"))
        .as("cents"))
      .join(Tables.customer(s, d)
        .select($"c_custkey", $"c_mktsegment"), $"o_custkey" === $"c_custkey")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"c_mktsegment").orderBy($"cents", $"c_custkey")
    spend
      .withColumn("i", row_number().over(w).cast("long"))
      .groupBy($"c_mktsegment".as("segment"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum($"cents".cast("decimal(38,0)")).as("total"),
        sum(($"i" * $"cents").cast("decimal(38,0)")).as("ix"),
      )
      .withColumn("gini_num",
        (lit(2).cast("decimal(38,0)") * $"ix" -
          ($"n_customers" + 1).cast("decimal(38,0)") * $"total")
          .cast("decimal(38,0)"))
      .withColumn("gini_den",
        ($"n_customers".cast("decimal(38,0)") * $"total")
          .cast("decimal(38,0)"))
      .withColumn("gini_ppm",
        expr("CAST((gini_num * 1000000) DIV gini_den AS BIGINT)"))
      .select($"segment", $"n_customers",
        $"total".cast("string").as("total_cents"),
        $"gini_ppm")
      .orderBy($"segment")
  }

  private val q172Sql =
    """WITH spend AS (
      |  SELECT o.o_custkey,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM orders o GROUP BY o.o_custkey),
      |ranked AS (
      |  SELECT c.c_mktsegment AS segment, s.cents,
      |    ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
      |      ORDER BY s.cents, c.c_custkey) AS i
      |  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey),
      |agg AS (
      |  SELECT segment, COUNT(*) AS n_customers,
      |    SUM(CAST(cents AS HUGEINT)) AS total,
      |    SUM(CAST(i AS HUGEINT) * cents) AS ix
      |  FROM ranked GROUP BY segment)
      |SELECT segment, n_customers,
      |  CAST(CAST(total AS DECIMAL(38,0)) AS VARCHAR) AS total_cents,
      |  CAST((2 * ix - (n_customers + 1) * total) * 1000000 //
      |    (n_customers * total) AS BIGINT) AS gini_ppm
      |FROM agg ORDER BY segment""".stripMargin

  private val q171Sql = {
    // native-order key per column; min/max aggregate the KEY and only
    // the extreme is rendered to VARCHAR (mirrors q171's orderKey)
    val specs = Seq(
      ("o_orderkey", "o_orderkey"),
      ("o_custkey", "o_custkey"),
      ("o_orderstatus", "o_orderstatus"),
      ("o_totalprice", "CAST(ROUND(o_totalprice * 100) AS BIGINT)"),
      ("o_orderdate", "epoch_us(o_orderdate)"),
      ("o_orderpriority", "o_orderpriority"),
    )
    specs.map { case (c, k) =>
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_rows,
         |  COUNT($c) AS n_notnull,
         |  COUNT(*) - COUNT($c) AS n_null,
         |  COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($k) AS VARCHAR) AS min_str,
         |  CAST(MAX($k) AS VARCHAR) AS max_str
         |FROM orders""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) t ORDER BY column_name")
  }

  /** q199: CASCADING ERASURE LEDGER (right-to-be-forgotten) — given a
    * deletion list of customers, account for every row that must go
    * across the star schema: the customer rows themselves, their
    * orders, and — the hop naive erasure misses — the LINEITEMS of
    * those orders, which carry no customer key at all and are
    * reachable only through the order cascade. The output is the audit
    * artifact a privacy review wants: per table, rows before / purged /
    * after plus an integer checksum over the purged keys (sum — order-
    * independent, so no engine-specific string aggregation). The
    * deletion list here derives from a stable hash (md5 first nibble =
    * '0', ~1/16 of customers) so the fixture is deterministic; the
    * PLAN treats it as a real list (joins, not predicate pushdown —
    * a production list arrives as a table, not a formula).
    *
    * Scale: the customer pass is a broadcast left join against the
    * deletion list; the orders pass likewise; the lineitem pass joins
    * on l_orderkey against the purged-order keys — a plain hash
    * equi-join that co-partitions at 100 TB (purged orders are not
    * broadcastable at scale; the join key is lineitem's natural
    * distribution key, so this is the cheapest possible cascade).
    * Three scans, three aggregates, a 3-row union.
    */
  private def q199(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val del = Tables
      .customer(s, d)
      .filter(
        substring(md5($"c_custkey".cast("string").cast("binary")), 1, 1)
          === "0")
      .select($"c_custkey".as("del_key"))
    val cust = Tables
      .customer(s, d)
      .join(broadcast(del), $"c_custkey" === $"del_key", "left")
      .agg(
        lit("customer").as("table_name"),
        count(lit(1)).as("n_before"),
        count($"del_key").as("n_purged"),
        (count(lit(1)) - count($"del_key")).as("n_after"),
        coalesce(sum($"del_key"), lit(0L)).as("purged_key_sum"),
      )
    val ordersFlagged = Tables
      .orders(s, d)
      .join(broadcast(del), $"o_custkey" === $"del_key", "left")
    val ord = ordersFlagged.agg(
      lit("orders").as("table_name"),
      count(lit(1)).as("n_before"),
      count($"del_key").as("n_purged"),
      (count(lit(1)) - count($"del_key")).as("n_after"),
      coalesce(sum(when($"del_key".isNotNull, $"o_orderkey")), lit(0L))
        .as("purged_key_sum"),
    )
    val purgedOrders = ordersFlagged
      .filter($"del_key".isNotNull)
      .select($"o_orderkey".as("purged_ok"))
    val li = Tables
      .lineitem(s, d)
      .join(purgedOrders, $"l_orderkey" === $"purged_ok", "left")
      .agg(
        lit("lineitem").as("table_name"),
        count(lit(1)).as("n_before"),
        count($"purged_ok").as("n_purged"),
        (count(lit(1)) - count($"purged_ok")).as("n_after"),
        coalesce(sum(when($"purged_ok".isNotNull, $"l_orderkey")),
          lit(0L)).as("purged_key_sum"),
      )
    cust.unionAll(ord).unionAll(li).orderBy($"table_name")
  }

  private val q199Sql =
    """WITH del AS (
      |  SELECT c_custkey AS del_key FROM customer
      |  WHERE substr(md5(CAST(c_custkey AS VARCHAR)), 1, 1) = '0'),
      |po AS (
      |  SELECT o_orderkey FROM orders
      |  JOIN del ON o_custkey = del_key),
      |cust AS (
      |  SELECT 'customer' AS table_name, COUNT(*) AS n_before,
      |    COUNT(del_key) AS n_purged,
      |    COUNT(*) - COUNT(del_key) AS n_after,
      |    CAST(COALESCE(SUM(del_key), 0) AS BIGINT) AS purged_key_sum
      |  FROM customer LEFT JOIN del ON c_custkey = del_key),
      |ord AS (
      |  SELECT 'orders' AS table_name, COUNT(*) AS n_before,
      |    COUNT(del_key) AS n_purged,
      |    COUNT(*) - COUNT(del_key) AS n_after,
      |    CAST(COALESCE(SUM(CASE WHEN del_key IS NOT NULL
      |      THEN o_orderkey END), 0) AS BIGINT) AS purged_key_sum
      |  FROM orders LEFT JOIN del ON o_custkey = del_key),
      |li AS (
      |  SELECT 'lineitem' AS table_name, COUNT(*) AS n_before,
      |    COUNT(po.o_orderkey) AS n_purged,
      |    COUNT(*) - COUNT(po.o_orderkey) AS n_after,
      |    CAST(COALESCE(SUM(CASE WHEN po.o_orderkey IS NOT NULL
      |      THEN l_orderkey END), 0) AS BIGINT) AS purged_key_sum
      |  FROM lineitem LEFT JOIN po ON l_orderkey = po.o_orderkey)
      |SELECT * FROM cust UNION ALL SELECT * FROM ord
      |UNION ALL SELECT * FROM li
      |ORDER BY table_name""".stripMargin

  /** Per-partition MISRA-GRIES summary: at most `k` counters; a token
    * outside a full counter set decrements every counter (dropping
    * zeros) — the classic guarantee follows: any item with LOCAL count
    * > N_p/(k+1) holds a counter when the partition ends.
    */
  private[graft] def misraGries(it: Iterator[String], k: Int)
      : Iterator[String] = {
    val counters = scala.collection.mutable.HashMap.empty[String, Long]
    misraGriesFold(counters, it, k)
    counters.keysIterator.toList.iterator
  }

  /** The MG transition itself, factored so streaming state (q249) can
    * resume from persisted counters: fold `it` into `counters`,
    * preserving the ≤ k-counters invariant. Order-insensitive
    * GUARANTEE (not order-insensitive state): whatever the arrival
    * order, an item whose total count exceeds stream/(k+1) holds a
    * counter at the end — each decrement retires k+1 occurrences, of
    * which at most one is the item's own.
    */
  private[graft] def misraGriesFold(
      counters: scala.collection.mutable.HashMap[String, Long],
      it: Iterator[String],
      k: Int,
  ): Unit =
    it.foreach { tok =>
      counters.get(tok) match {
        case Some(c) => counters.update(tok, c + 1)
        case None if counters.size < k => counters.update(tok, 1L)
        case None =>
          val dead = List.newBuilder[String]
          counters.keysIterator.foreach { key =>
            val c = counters(key) - 1
            if (c == 0) dead += key else counters.update(key, c)
          }
          dead.result().foreach(counters.remove)
      }
    }

  /** q238: GUARANTEED HEAVY HITTERS — the frequent-items member
    * completing the sketch family (HLL counts distincts, CMS points up
    * counts, KMV intersects; none can answer "which items are
    * frequent" without a full-domain shuffle): every token holding
    * more than N/(k+1) of the corpus token mass, with EXACT counts.
    * Two passes, the production shape: (1) per-partition Misra-Gries
    * summaries of ≤ k counters — the pigeonhole guarantee makes the
    * UNION of partition summaries a superset of every global heavy
    * hitter (if an item exceeded N/(k+1) globally it exceeded
    * N_p/(k+1) in some partition), regardless of how rows are
    * partitioned; (2) an exact recount of only the ≤ k·partitions
    * candidates (broadcast semi-join into one more scan) with the
    * threshold filter. The candidate SET varies with partitioning —
    * the OUTPUT does not: every true heavy hitter survives pass 1 by
    * the guarantee and every false candidate dies on the exact
    * threshold, so the result is partition-placement-independent and
    * fully ORACLE-GATED (DuckDB: plain GROUP BY + HAVING) even though
    * the sketch pass is not replayable. At 100 TB the vocabulary never
    * shuffles — only k counters per task and the candidate recount.
    * Round12Spec re-runs pass 1 under adversarial repartitioning and
    * asserts the superset guarantee and output stability.
    */
  private def q238(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 200
    val tokens = Tables
      .documents(s, d)
      .select(explode(split($"text", " ")).as("tok"))
      .where(length($"tok") > 0)
    val total = tokens.count()
    val cands = tokens.as[String]
      .mapPartitions(it => misraGries(it, k))
      .distinct()
      .toDF("tok")
    tokens
      .join(broadcast(cands), Seq("tok"))
      .groupBy($"tok")
      .agg(count(lit(1)).as("cnt"))
      .where($"cnt" * (k + 1) > total)
      .orderBy($"cnt".desc, $"tok")
  }

  private val q238Sql =
    """WITH toks AS (
      |  SELECT t.tok FROM documents,
      |    UNNEST(string_split(text, ' ')) AS t(tok)
      |  WHERE len(t.tok) > 0),
      |tot AS (SELECT COUNT(*) AS n FROM toks)
      |SELECT tok, COUNT(*) AS cnt
      |FROM toks, tot
      |GROUP BY tok, tot.n
      |HAVING COUNT(*) * 201 > tot.n
      |ORDER BY cnt DESC, tok""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q199_erasure_cascade", q199, Some(q199Sql)),
    QueryDef("q159_benford_audit", q159, Some(q159Sql)),
    QueryDef("q163_fk_audit", q163, Some(q163Sql)),
    QueryDef("q171_column_profile", q171, Some(q171Sql)),
    // approximate profile: HLL++ estimates can't hash-match DuckDB's
    // sketch — rows-only for the driver; Round11Spec gates the error
    // bound and the exact-column equality against q171
    QueryDef("q180_approx_profile", q180, None),
    QueryDef("q172_gini_spend", q172, Some(q172Sql)),
    QueryDef("q87_bloom_semi", q87, Some(q87Sql)),
    QueryDef("q88_bucketed_join", q88, Some(q88Sql)),
    QueryDef("q91_hll_merge", q91, None),
    QueryDef("q238_heavy_hitters", q238, Some(q238Sql)),
    // streaming MG maintenance, exact-recount gated: the oracle is
    // LITERALLY q238's SQL — batching-independent by the recount
    QueryDef("q249_stream_heavy_hitters",
      (s, d) => graft.streaming.Streams.streamHeavyHitters(s, d),
      Some(q238Sql)),
    QueryDef("q106_observe_qc", q106, Some(q106Sql)),
    QueryDef("q110_skew_histogram", q110, Some(q110Sql)),
    QueryDef("q137_cms_heavyhitters", q137, None),
    QueryDef("q142_constraint_audit", q142, Some(q142Sql)),
  )
}
