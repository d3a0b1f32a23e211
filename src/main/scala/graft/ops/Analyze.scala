package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANALYZE-style table statistics + the cost decision they feed.
  *
  * The optimizer-facing half of the engine's metadata story: one pass
  * over a table producing the per-column statistics a cost-based planner
  * consumes — row count, null count, exact NDV, min/max, byte mass —
  * and a `broadcastable` verdict derived from them. The join-strategy
  * payoff is locked by Round18bSpec: `statsJoin` plans a
  * BroadcastHashJoin for a table the statistics call small and a
  * SortMergeJoin for one they call large, with the session's
  * size-estimate autobroadcast DISABLED — the decision comes from
  * MEASURED stats, not from file-size guesses (which at 100 TB routinely
  * mis-estimate post-filter/post-projection sizes).
  *
  * Portability discipline: every statistic is computed over the CANONICAL
  * STRING PROJECTION of the column (`CAST(col AS STRING)`) so the same
  * melt → rollup shape covers every data type and the DuckDB oracle
  * replays it bit-for-bit (both engines print integers, sub-1e7 doubles,
  * and µs timestamps identically; min/max are therefore lexicographic on
  * that canonical form — the NDV/null/mass stats a CBO actually keys on
  * are representation-independent, and a typed min/max arm is one
  * per-type aggregate away when a range-pruning consumer needs it).
  *
  * Scale: the melt fans each row out |columns|× but carries only
  * (col_name, value-string); the single shuffle is the (col, v) rollup.
  * Exact NDV is the oracle-parity choice — the 100 TB swap is
  * `approx_count_distinct`, exactly the q08→q19 trade.
  */
object Analyze {

  /** In-memory broadcast budget the advisory compares against (10 MiB —
    * Spark's own autoBroadcastJoinThreshold default).
    */
  val BroadcastBudgetBytes: Long = 10L * 1024 * 1024

  /** Estimated in-memory bytes of one row's column value: the string
    * mass plus a fixed 16-byte object/offset overhead per cell.
    */
  private val CellOverhead = 16L

  /** Canonical melt: one (col_name, value-as-string) row per cell —
    * the ONE projection every stats path (direct q346, stored q351,
    * incremental q359) computes from, so the three cannot drift.
    */
  private def melt(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val cells: Array[Column] = df.schema.fields.map { f =>
      struct(lit(f.name).as("col_name"), col(f.name).cast("string").as("v"))
    }
    df.select(explode(array(cells: _*)).as("kv"))
      .select($"kv.col_name".as("col_name"), $"kv.v".as("v"))
  }

  /** Per-column statistics of `df` — one row per column. */
  def tableStats(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    melt(df)
      .groupBy($"col_name")
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count($"v")).as("n_null"),
        countDistinct($"v").as("ndv"),
        min($"v").as("min_v"), max($"v").as("max_v"),
        coalesce(sum(length($"v")), lit(0L)).cast("long").as("sum_len"))
      .withColumn("avg_len", expr(
        "CASE WHEN n_rows > n_null THEN CAST(sum_len AS DOUBLE) " +
          "/ (n_rows - n_null) ELSE 0.0 END"))
      .withColumn("est_bytes", expr(s"sum_len + $CellOverhead * n_rows"))
      .withColumn("broadcastable",
        expr(s"est_bytes < ${BroadcastBudgetBytes}L"))
      .orderBy($"col_name")
  }

  /** The CBO decision the stats feed: total measured table mass under
    * the broadcast budget ⇒ broadcast. Runs the stats plan — the
    * per-call form for ad-hoc frames; production decisions read the
    * PERSISTED artifact via [[statsStore]]/[[adviseBroadcastStored]]
    * (an ANALYZE pass per join decision would re-scan the table at
    * 100 TB; the stored 11-row ledger is a metadata read).
    */
  def adviseBroadcast(
      df: DataFrame, budget: Long = BroadcastBudgetBytes): Boolean =
    // coalesce: a ZERO-column / zero-row stats frame sums to NULL, and
    // getLong on NULL is an NPE instead of a verdict — an empty build
    // side is trivially broadcastable (r18 advice)
    tableStats(df).agg(coalesce(sum("est_bytes"), lit(0L)))
      .head().getLong(0) < budget

  /** Build-if-absent PERSISTED ANALYZE artifact for a driver table —
    * the production shape of q346: statistics are computed once per
    * source version (the store key folds mtime+length+content
    * fingerprint, so a rewritten table re-ANALYZEs exactly once) and
    * every later planning decision reads the |columns|-row parquet,
    * never the table. One declared store per table a registered query
    * plans from: lineitem (q351, q359, q368, q371) and part (q04).
    */
  private val statsStores =
    StoreGuard.family("stats", Seq("lineitem", "part")) { table =>
      StoreGuard.declare("target/stage_analyze", s"stats_$table",
          s"$table.parquet", payload = Seq("stats")) { (s, d, root) =>
        tableStats(Tables.load(s, d, table))
          .coalesce(1)
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$root/stats")
      }
    }

  def statsStore(s: SparkSession, d: String, table: String): String =
    statsStores(table).ensure(s, d)

  /** Session-lifetime memo of stored table masses, keyed by store root.
    * Sound because the root ENCODES source freshness (mtime + length +
    * content fingerprint): a rewritten table gets a new root and so a
    * new entry — the memo can go stale only by growing, never by
    * serving a wrong mass. Without it every consuming join paid a
    * small Spark job (parquet read + agg) per EXECUTION for a number
    * that is constant per source version (q04 measured 0.3 → 0.9 s
    * from exactly that).
    */
  private val storedMass =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** [[adviseBroadcast]] against the persisted artifact: one
    * metadata-sized read per SOURCE VERSION (memoized on the
    * freshness-keyed root), zero per-execution cost after that.
    */
  def adviseBroadcastStored(
      s: SparkSession, d: String, table: String,
      budget: Long = BroadcastBudgetBytes): Boolean =
    storedMassBytes(s, d, table) < budget

  /** The measured total byte mass of a driver table, from its persisted
    * ANALYZE artifact (memoized on the freshness-keyed root).
    */
  private[graft] def storedMassBytes(
      s: SparkSession, d: String, table: String): Long = {
    val root = statsStore(s, d, table)
    storedMass.computeIfAbsent(root, _ =>
      s.read.parquet(s"$root/stats")
        .agg(coalesce(sum("est_bytes"), lit(0L)))
        .head().getLong(0))
  }

  /** Stats-informed equi-join: broadcast the right side iff ANALYZE says
    * it fits the budget; otherwise leave the shuffle strategy to the
    * planner (SMJ/SHJ). Round18bSpec locks both branches' physical
    * plans with size-estimate autobroadcast disabled.
    */
  def statsJoin(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      budget: Long = BroadcastBudgetBytes): DataFrame = {
    val r = if (adviseBroadcast(right, budget)) broadcast(right) else right
    left.join(r, keys)
  }

  /** [[statsJoin]] deciding from the persisted artifact — the form a
    * production job runs: the decision costs a metadata read, not an
    * ANALYZE pass over the build side.
    */
  def statsJoinStored(
      s: SparkSession, d: String, left: DataFrame, rightTable: String,
      keys: Seq[String], budget: Long = BroadcastBudgetBytes): DataFrame = {
    val right = Tables.load(s, d, rightTable)
    val r = if (adviseBroadcastStored(s, d, rightTable, budget))
      broadcast(right) else right
    left.join(r, keys)
  }

  /** [[statsJoinStored]] for differently-named key columns: the join
    * condition is built AFTER the advice decides the build side, so a
    * production dim join spells `statsJoinStoredOn(..., col("l_partkey")
    * === col("p_partkey"))` and the broadcast hint comes from the
    * persisted ANALYZE artifact, never from a hand-placed constant.
    */
  def statsJoinStoredOn(
      s: SparkSession, d: String, left: DataFrame, rightTable: String,
      cond: Column, budget: Long = BroadcastBudgetBytes): DataFrame = {
    val right = Tables.load(s, d, rightTable)
    val r = if (adviseBroadcastStored(s, d, rightTable, budget))
      broadcast(right) else right
    left.join(r, cond)
  }

  /** q346: ANALYZE over `lineitem` — the widest driver table. */
  private def q346(s: SparkSession, d: String): DataFrame =
    tableStats(Tables.lineitem(s, d))

  private val q346Sql =
    """WITH c AS (
      |  SELECT CAST(l_orderkey AS VARCHAR) AS l_orderkey,
      |    CAST(l_partkey AS VARCHAR) AS l_partkey,
      |    CAST(l_suppkey AS VARCHAR) AS l_suppkey,
      |    CAST(l_linenumber AS VARCHAR) AS l_linenumber,
      |    CAST(l_quantity AS VARCHAR) AS l_quantity,
      |    CAST(l_extendedprice AS VARCHAR) AS l_extendedprice,
      |    CAST(l_discount AS VARCHAR) AS l_discount,
      |    CAST(l_tax AS VARCHAR) AS l_tax,
      |    CAST(l_returnflag AS VARCHAR) AS l_returnflag,
      |    CAST(l_linestatus AS VARCHAR) AS l_linestatus,
      |    CAST(l_shipdate AS VARCHAR) AS l_shipdate
      |  FROM lineitem),
      |m AS (
      |  SELECT col_name, v FROM c
      |  UNPIVOT INCLUDE NULLS (v FOR col_name IN (
      |    l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
      |    l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
      |    l_shipdate)))
      |SELECT col_name,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_null,
      |  CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
      |  MIN(v) AS min_v, MAX(v) AS max_v,
      |  CAST(COALESCE(SUM(length(v)), 0) AS BIGINT) AS sum_len,
      |  CASE WHEN COUNT(v) > 0
      |    THEN CAST(COALESCE(SUM(length(v)), 0) AS DOUBLE) / COUNT(v)
      |    ELSE 0.0 END AS avg_len,
      |  CAST(COALESCE(SUM(length(v)), 0) + 16 * COUNT(*) AS BIGINT)
      |    AS est_bytes,
      |  (COALESCE(SUM(length(v)), 0) + 16 * COUNT(*)) < 10485760
      |    AS broadcastable
      |FROM m GROUP BY col_name ORDER BY col_name""".stripMargin

  // ---- q350: join-cardinality estimation ------------------------------

  /** q350: JOIN-CARDINALITY ESTIMATION — the other half of the CBO
    * story: q346 measures table mass, this measures JOIN OUTPUT SIZE
    * before paying for the join, the number every join-order/strategy
    * decision actually keys on. Two join shapes are estimated and then
    * ground-truthed: the FK join orders⋈lineitem on orderkey
    * (|J| = Σ_k c_o(k)·c_l(k), c_o ∈ {0,1}) and the many-to-many
    * self-join lineitem⋈lineitem on partkey (|J| = Σ_k c_l(k)² — the
    * classic self-join-size statistic where naive row counts
    * mis-estimate worst). The estimator is Bernoulli row sampling on
    * the probe side with the textbook unbiased scale-up
    * est = (Σ_sampled c_build(k)) / p: a deterministic md5 digit of the
    * row identity picks the sample (replayable in DuckDB — the same
    * device as q90/q334), p = k/256 exactly, so the scale-up is the
    * integer `· 256 DIV k` and the whole ledger is engine-exact.
    *
    * Scale: build-side histograms are one map-side-combinable aggregate
    * each; the probe joins against the (key, count) histogram — never
    * the join itself. The ground truth is ALSO computed on histograms
    * (Σ products), so nothing here materializes a single joined row:
    * estimating a join this way costs O(|tables|), the join it prices
    * can cost O(|J|) ≫ that.
    */
  private def q350(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val ords = Tables.orders(s, d)
    // build-side histograms
    val byOrder = ords.groupBy($"o_orderkey".as("k"))
      .agg(count(lit(1)).as("c"))
    val byPart = li.groupBy($"l_partkey".as("k"))
      .agg(count(lit(1)).as("c"))
    // probe rows with their deterministic md5 sampling digit
    val probe = li.select(
      $"l_orderkey", $"l_partkey",
      expr("conv(substring(md5(cast(concat(cast(l_orderkey AS STRING), " +
        "'#', cast(l_linenumber AS STRING)) AS BINARY)), 1, 2), 16, 10)")
        .cast("long").as("dig"))
    def arm(name: String, key: String, hist: DataFrame): DataFrame = {
      // ONE conditional-aggregate pass prices the ground truth and both
      // sampling rates together (the oracle's FILTER shape) — never a
      // second probe scan
      val r = probe
        .join(hist.withColumnRenamed("k", key), Seq(key), "left")
        .select($"dig", coalesce($"c", lit(0L)).as("c"))
        .agg(sum($"c").as("actual"),
          count(when($"dig" < 3, 1)).as("n3"),
          coalesce(sum(when($"dig" < 3, $"c")), lit(0L)).as("s3"),
          count(when($"dig" < 26, 1)).as("n26"),
          coalesce(sum(when($"dig" < 26, $"c")), lit(0L)).as("s26"))
        .head()
      val actual = r.getLong(0)
      Seq((3L, r.getLong(1), r.getLong(2)), (26L, r.getLong(3), r.getLong(4)))
        .map { case (k, n, sSum) =>
          val est = sSum * 256L / k
          (name, k, n, est, actual, (est - actual) * 1000000L / actual)
        }.toDF("join_name", "p_num", "n_sampled", "est_rows",
          "actual_rows", "err_ppm")
    }
    arm("fk_orders_lineitem", "l_orderkey", byOrder)
      .unionByName(arm("selfjoin_partkey", "l_partkey", byPart))
      .orderBy($"join_name", $"p_num")
  }

  private val q350Sql =
    """WITH probe AS (
      |  SELECT l_orderkey, l_partkey,
      |    CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '#'
      |      || CAST(l_linenumber AS VARCHAR)), 1, 2)) AS BIGINT) AS dig
      |  FROM lineitem),
      |byorder AS (
      |  SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM orders GROUP BY 1),
      |bypart AS (
      |  SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1),
      |jo AS (
      |  SELECT p.dig, COALESCE(b.c, 0) AS c
      |  FROM probe p LEFT JOIN byorder b ON b.k = p.l_orderkey),
      |jp AS (
      |  SELECT p.dig, COALESCE(b.c, 0) AS c
      |  FROM probe p LEFT JOIN bypart b ON b.k = p.l_partkey),
      |arms AS (
      |  SELECT 'fk_orders_lineitem' AS join_name, k.k AS p_num,
      |    CAST(COUNT(*) FILTER (WHERE dig < k.k) AS BIGINT) AS n_sampled,
      |    CAST(COALESCE(SUM(c) FILTER (WHERE dig < k.k), 0) * 256 // k.k
      |      AS BIGINT) AS est_rows,
      |    CAST(SUM(c) AS BIGINT) AS actual_rows
      |  FROM jo CROSS JOIN (VALUES (3), (26)) k(k) GROUP BY k.k
      |  UNION ALL
      |  SELECT 'selfjoin_partkey', k.k,
      |    CAST(COUNT(*) FILTER (WHERE dig < k.k) AS BIGINT),
      |    CAST(COALESCE(SUM(c) FILTER (WHERE dig < k.k), 0) * 256 // k.k
      |      AS BIGINT),
      |    CAST(SUM(c) AS BIGINT)
      |  FROM jp CROSS JOIN (VALUES (3), (26)) k(k) GROUP BY k.k)
      |SELECT join_name, CAST(p_num AS BIGINT) AS p_num, n_sampled,
      |  est_rows, actual_rows,
      |  CAST((est_rows - actual_rows) * 1000000 // actual_rows AS BIGINT)
      |    AS err_ppm
      |FROM arms ORDER BY join_name, p_num""".stripMargin

  /** q351: the PERSISTED ANALYZE artifact read back — store-path ≡
    * recompute-path is gated by sharing q346's oracle verbatim (the
    * q260/q240 discipline), so a stale or drifted store hash-fails.
    */
  private def q351(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.read.parquet(s"${statsStore(s, d, "lineitem")}/stats")
      .orderBy($"col_name")
  }

  // ---- q359: incremental ANALYZE --------------------------------------

  /** KMV sketch size for the incremental-NDV arm (64 hashes ⇒ ~12.5%
    * 1σ relative error — q206's setting).
    */
  private[graft] val KmvK = 64

  /** Per-batch PARTIAL statistics of one delta (r18 verdict item 3) —
    * the mergeable sufficient statistic of ANALYZE: rows / nulls /
    * byte mass are additive, min/max compose by min/max, and NDV —
    * the one non-additive statistic — travels as a KMV sketch (the
    * k smallest distinct md5 hashes per column, q206's device: the
    * union of per-batch k-smallest sets contains the global k-smallest
    * set, so merge ≡ recompute EXACTLY, not approximately — only the
    * sketch→NDV readout is an estimate). Returns (partials, sketch):
    * |columns| rows and ≤ |columns|·k rows per batch.
    */
  private[graft] def colPartials(
      df: DataFrame, batch: Int): (DataFrame, DataFrame) = {
    val s = df.sparkSession
    import s.implicits._
    val m = melt(df)
    val p = m
      .groupBy($"col_name")
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count($"v")).as("n_null"),
        min($"v").as("min_v"), max($"v").as("max_v"),
        coalesce(sum(length($"v")), lit(0L)).cast("long").as("sum_len"))
      .withColumn("batch", lit(batch.toLong))
    // Two-level k-smallest (r19 verdict item 3): the k smallest hashes
    // of a high-NDV column must NEVER be found by sorting the whole
    // distinct-value domain on one reducer per column. Level 1 ranks
    // within (col_name, hash-bucket) — KmvFanout-way parallel, each
    // window frame ~|domain|/fanout rows; level 2 re-ranks the
    // survivors, a frame of at most KmvFanout·k rows per column. The
    // result is EXACTLY the old single-window sketch: every member of
    // the global k-smallest set is k-smallest within its own bucket,
    // so the level-1 filter cannot drop it (the same union-contains-
    // global argument the batch merge itself rests on).
    val sk = m
      .where($"v".isNotNull)
      .select($"col_name", $"v").distinct()
      .withColumn("h", md5($"v".cast("binary")))
      .withColumn("sb", pmod(xxhash64($"h"), lit(KmvFanout)))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"col_name", $"sb").orderBy($"h")))
      .where($"rk" <= KmvK)
      .withColumn("rk2", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"col_name").orderBy($"h")))
      .where($"rk2" <= KmvK)
      .select(lit(batch.toLong).as("batch"), $"col_name", $"h")
    (p, sk)
  }

  /** Level-1 fan-out of the two-level KMV build: buckets per column.
    * 32 matches the bench parallelism; at cluster scale the bound that
    * matters is the level-2 frame, KmvFanout·KmvK = 2048 rows per
    * column regardless of domain size.
    */
  private[graft] val KmvFanout = 32

  /** Build-if-absent incremental-ANALYZE store over `lineitem`: batch 0
    * (l_orderkey % 10 < 8) written, batch 1 APPENDED — each batch costs
    * one scan of ITS OWN rows (the nightly shape: a delta never
    * re-scans the base, which is the entire point at 100 TB — q351's
    * store re-ANALYZEs the world per source version; this one pays
    * O(delta) + a KB-sized merge at read time).
    */
  private val incrStats = StoreGuard.declare("target/stage_analyze",
      "incrstats_lineitem", "lineitem.parquet", extra = s"kmv:$KmvK",
      payload = Seq("partials", "sketch")) { (s, d, root) =>
    val li = Tables.lineitem(s, d)
    for ((b, slice) <- Seq(
        (0, li.where(col("l_orderkey") % 10 < 8)),
        (1, li.where(col("l_orderkey") % 10 >= 8)))) {
      val mode =
        if (b == 0) org.apache.spark.sql.SaveMode.Overwrite
        else org.apache.spark.sql.SaveMode.Append
      val (p, sk) = colPartials(slice, b)
      p.coalesce(1).write.mode(mode).parquet(s"$root/partials")
      sk.coalesce(1).write.mode(mode).parquet(s"$root/sketch")
    }
  }

  private[graft] def incrStatsStore(s: SparkSession, d: String): String =
    incrStats.ensure(s, d)

  /** q359: INCREMENTAL ANALYZE, oracle-gated — the merged readout of
    * the per-batch partial-stats store: exact columns fold additively
    * (rows/nulls/mass) or by composition (min/max), NDV re-reads the
    * UNION of the per-batch KMV sketches (distinct hashes → k smallest
    * → θ → (k−1)·2³²/θ, q206's estimator verbatim — deterministic md5,
    * so DuckDB replays the estimate bit-for-bit). The oracle recomputes
    * EVERYTHING from the raw table in one scan — a green row proves
    * merge ≡ recompute for every exact statistic AND the sketch union
    * (q260's discipline; the NDV→exact ERROR is additionally bounded
    * in Round19Spec, which is a property of KMV, not of the merge).
    */
  private def q359(s: SparkSession, d: String): DataFrame =
    mergedStatsReadout(s, incrStatsStore(s, d))

  /** Merged readout over a partials+sketch store root — ONE spelling
    * shared by q359 (batch-built store) and q362 (the same store
    * maintained by a stream), so the two paths cannot drift.
    */
  private[graft] def mergedStatsReadout(
      s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    val merged = s.read.parquet(s"$root/partials")
      .groupBy($"col_name")
      .agg(sum($"n_rows").as("n_rows"), sum($"n_null").as("n_null"),
        min($"min_v").as("min_v"), max($"max_v").as("max_v"),
        sum($"sum_len").as("sum_len"))
    val uInt = (1 to 8)
      .map(i =>
        s"(instr('0123456789abcdef', substr(theta, $i, 1)) - 1) * " +
          s"${math.pow(16, 8 - i).toLong}L")
      .mkString(" + ")
    val sk = s.read.parquet(s"$root/sketch")
      .select($"col_name", $"h").distinct()
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"col_name").orderBy($"h")))
      .where($"rk" <= KmvK)
      .groupBy($"col_name")
      .agg(count(lit(1)).as("n_sketch"), max($"h").as("theta"))
    merged
      .join(sk, Seq("col_name"), "left")
      .na.fill(0L, Seq("n_sketch"))
      .withColumn("ndv_est", round(
        when($"n_sketch" < KmvK, $"n_sketch".cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * 4294967296.0 / expr(uInt)),
        2))
      .select($"col_name", $"n_rows", $"n_null", $"min_v", $"max_v",
        $"sum_len", $"n_sketch", $"ndv_est")
      .orderBy($"col_name")
  }

  private val q359Sql = {
    val uInt = (1 to 8)
      .map(i =>
        s"(instr('0123456789abcdef', substr(theta, $i, 1)) - 1) * " +
          s"${math.pow(16, 8 - i).toLong}")
      .mkString(" + ")
    s"""WITH c AS (
      |  SELECT CAST(l_orderkey AS VARCHAR) AS l_orderkey,
      |    CAST(l_partkey AS VARCHAR) AS l_partkey,
      |    CAST(l_suppkey AS VARCHAR) AS l_suppkey,
      |    CAST(l_linenumber AS VARCHAR) AS l_linenumber,
      |    CAST(l_quantity AS VARCHAR) AS l_quantity,
      |    CAST(l_extendedprice AS VARCHAR) AS l_extendedprice,
      |    CAST(l_discount AS VARCHAR) AS l_discount,
      |    CAST(l_tax AS VARCHAR) AS l_tax,
      |    CAST(l_returnflag AS VARCHAR) AS l_returnflag,
      |    CAST(l_linestatus AS VARCHAR) AS l_linestatus,
      |    CAST(l_shipdate AS VARCHAR) AS l_shipdate
      |  FROM lineitem),
      |m AS (
      |  SELECT col_name, v FROM c
      |  UNPIVOT INCLUDE NULLS (v FOR col_name IN (
      |    l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
      |    l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
      |    l_shipdate))),
      |ex AS (
      |  SELECT col_name,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_null,
      |    MIN(v) AS min_v, MAX(v) AS max_v,
      |    CAST(COALESCE(SUM(length(v)), 0) AS BIGINT) AS sum_len
      |  FROM m GROUP BY col_name),
      |hs AS (
      |  SELECT DISTINCT col_name, md5(v) AS h FROM m WHERE v IS NOT NULL),
      |rk AS (
      |  SELECT col_name, h,
      |    ROW_NUMBER() OVER (PARTITION BY col_name ORDER BY h) AS rn
      |  FROM hs),
      |sk AS (
      |  SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n_sketch,
      |    MAX(h) AS theta
      |  FROM rk WHERE rn <= $KmvK GROUP BY col_name)
      |SELECT e.col_name, n_rows, n_null, min_v, max_v, sum_len,
      |  CAST(COALESCE(n_sketch, 0) AS BIGINT) AS n_sketch,
      |  ROUND(CASE WHEN COALESCE(n_sketch, 0) < $KmvK
      |    THEN CAST(COALESCE(n_sketch, 0) AS DOUBLE)
      |    ELSE ${KmvK - 1}.0 * 4294967296.0 / ($uInt) END, 2) AS ndv_est
      |FROM ex e LEFT JOIN sk ON sk.col_name = e.col_name
      |ORDER BY e.col_name""".stripMargin
  }

  private val q362Sql = {
    val uInt = (1 to 8)
      .map(i =>
        s"(instr('0123456789abcdef', substr(theta, $i, 1)) - 1) * " +
          s"${math.pow(16, 8 - i).toLong}")
      .mkString(" + ")
    s"""WITH c AS (
      |  SELECT CAST(l_orderkey AS VARCHAR) AS l_orderkey,
      |    CAST(l_partkey AS VARCHAR) AS l_partkey,
      |    CAST(l_quantity AS VARCHAR) AS l_quantity,
      |    CAST(l_returnflag AS VARCHAR) AS l_returnflag,
      |    CAST(l_shipdate AS VARCHAR) AS l_shipdate
      |  FROM lineitem),
      |m AS (
      |  SELECT col_name, v FROM c
      |  UNPIVOT INCLUDE NULLS (v FOR col_name IN (
      |    l_orderkey, l_partkey, l_quantity, l_returnflag, l_shipdate))),
      |ex AS (
      |  SELECT col_name,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(COUNT(*) - COUNT(v) AS BIGINT) AS n_null,
      |    MIN(v) AS min_v, MAX(v) AS max_v,
      |    CAST(COALESCE(SUM(length(v)), 0) AS BIGINT) AS sum_len
      |  FROM m GROUP BY col_name),
      |hs AS (
      |  SELECT DISTINCT col_name, md5(v) AS h FROM m WHERE v IS NOT NULL),
      |rk AS (
      |  SELECT col_name, h,
      |    ROW_NUMBER() OVER (PARTITION BY col_name ORDER BY h) AS rn
      |  FROM hs),
      |sk AS (
      |  SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n_sketch,
      |    MAX(h) AS theta
      |  FROM rk WHERE rn <= $KmvK GROUP BY col_name)
      |SELECT e.col_name, n_rows, n_null, min_v, max_v, sum_len,
      |  CAST(COALESCE(n_sketch, 0) AS BIGINT) AS n_sketch,
      |  ROUND(CASE WHEN COALESCE(n_sketch, 0) < $KmvK
      |    THEN CAST(COALESCE(n_sketch, 0) AS DOUBLE)
      |    ELSE ${KmvK - 1}.0 * 4294967296.0 / ($uInt) END, 2) AS ndv_est
      |FROM ex e LEFT JOIN sk ON sk.col_name = e.col_name
      |ORDER BY e.col_name""".stripMargin
  }

  // ---- q360: incremental quantile store --------------------------------

  /** Build-if-absent incremental QUANTILE store: per batch, the
    * cents-grain value histogram of `l_extendedprice` per return flag —
    * the mergeable sufficient statistic for EXACT order statistics
    * (counts add; the values are exact integers), the distribution
    * column a CBO wants next to q359's moments. Each batch costs one
    * scan of its own rows (the q359 delta discipline).
    */
  private val incrQuant = StoreGuard.declare("target/stage_analyze",
      "incrquant_lineitem", "lineitem.parquet",
      payload = Seq("hist")) { (s, d, root) =>
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_returnflag").as("rf"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"))
    for ((b, slice) <- Seq(
        (0, li.where(col("l_orderkey") % 10 < 8)),
        (1, li.where(col("l_orderkey") % 10 >= 8)))) {
      val mode =
        if (b == 0) org.apache.spark.sql.SaveMode.Overwrite
        else org.apache.spark.sql.SaveMode.Append
      slice.groupBy(col("rf"), col("cents"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("batch", lit(b.toLong))
        .coalesce(1).write.mode(mode).parquet(s"$root/hist")
    }
  }

  private[graft] def quantStore(s: SparkSession, d: String): String =
    incrQuant.ensure(s, d)

  /** q360: INCREMENTAL EXACT QUANTILES, oracle-gated — discrete
    * order statistics (p50/p90/p99 as permille ranks) served from the
    * MERGED per-batch histograms: rank r = (n−1)·q DIV 1000
    * (0-indexed), answer = the unique cents value whose cumulative
    * count straddles r. Everything is integer-decided (counts add,
    * ranks divide exactly), so the merge is EXACT — not a sketch — and
    * the oracle recomputes the same ranks from the raw table in one
    * scan: a green row proves merge ≡ recompute for the full
    * distribution, not just its moments.
    *
    * Scale: the histogram is value-grain (bounded by distinct prices,
    * not rows) and merges by additive rollup; the cumulative walk runs
    * per flag over the value grain. At extreme cardinality the walk
    * swaps to the two-level coarse/refine device (q268's histogram
    * threshold): bucket prefix sums locate the target bucket, one
    * refine pass inside it — never a global row sort.
    */
  private def q360(s: SparkSession, d: String): DataFrame =
    quantReadout(s, s.read.parquet(s"${quantStore(s, d)}/hist"))

  /** The merged quantile walk from raw (rf, cents, cnt[, batch]) store
    * rows — ONE spelling shared by q360 (store read) and q372 (the
    * compacted store), so the two cannot drift.
    */
  private[graft] def quantReadout(
      s: SparkSession, hist: DataFrame): DataFrame = {
    import s.implicits._
    val merged = hist
      .groupBy($"rf", $"cents")
      .agg(sum($"cnt").as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"rf").orderBy($"cents")
    val tot = org.apache.spark.sql.expressions.Window.partitionBy($"rf")
    merged
      .withColumn("cum", sum($"cnt").over(w))
      .withColumn("n", sum($"cnt").over(tot))
      .withColumn("q", explode(array(lit(500L), lit(900L), lit(990L))))
      .withColumn("r", expr("((n - 1) * q) DIV 1000"))
      .where($"cum" > $"r" && $"cum" - $"cnt" <= $"r")
      .groupBy($"rf".as("l_returnflag"), $"q".as("q_permille"))
      .agg(min($"n").as("n_rows"), min($"cents").as("cents_q"))
      .orderBy($"l_returnflag", $"q_permille")
  }

  private val q360Sql =
    """WITH h AS (
      |  SELECT l_returnflag AS rf,
      |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT rf, cents, cnt,
      |    SUM(cnt) OVER (PARTITION BY rf ORDER BY cents) AS cum,
      |    SUM(cnt) OVER (PARTITION BY rf) AS n
      |  FROM h),
      |qs AS (
      |  SELECT rf, cents, cnt, cum, n, q,
      |    ((n - 1) * q) // 1000 AS r
      |  FROM c CROSS JOIN (VALUES (500), (900), (990)) v(q))
      |SELECT rf AS l_returnflag, CAST(q AS BIGINT) AS q_permille,
      |  CAST(MIN(n) AS BIGINT) AS n_rows,
      |  CAST(MIN(cents) AS BIGINT) AS cents_q
      |FROM qs WHERE cum > r AND cum - cnt <= r
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---- q361: join-order advice ------------------------------------------

  /** q361: JOIN-ORDER ADVICE, oracle-gated — the decision q350's
    * cardinality estimator exists to feed: for the 3-table join
    * σ(orders) ⋈ lineitem ⋈ σ(part) (both dims filtered, so the two
    * left-deep orders genuinely differ), estimate EACH order's first
    * intermediate size by the deterministic Bernoulli sampler
    * (md5 digit < 26/256 on the probe row identity, q350's replayable
    * device) against the filtered dim's key histogram, and advise the
    * order with the smaller estimate. The ledger carries est + EXACT
    * intermediate sizes (Σ products over histograms — no join is ever
    * materialized) + the advice bit per order; the oracle replays
    * sampler, histograms, and arithmetic. Round19Spec additionally
    * locks that the advice agrees with the exact argmin on the driver
    * data — the estimator is good enough to make the right call, and
    * the call is derived from MEASURED statistics, never file sizes.
    */
  private def q361(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    // the probe with its sampling digit (q350's identity spelling)
    val probe = li.select(
      $"l_orderkey", $"l_partkey",
      expr("conv(substring(md5(cast(concat(cast(l_orderkey AS STRING), " +
        "'#', cast(l_linenumber AS STRING)) AS BINARY)), 1, 2), 16, 10)")
        .cast("long").as("dig"))
    // filtered dims: low-priority orders vs brand-13 parts — genuinely
    // different selectivities, so order matters
    val selOrders = Tables.orders(s, d)
      .where($"o_orderpriority" === "5-LOW")
      .groupBy($"o_orderkey".as("k")).agg(count(lit(1)).as("c"))
    val selParts = Tables.part(s, d)
      .where($"p_brand" === "Brand#13")
      .groupBy($"p_partkey".as("k")).agg(count(lit(1)).as("c"))
    def arm(name: String, key: String, hist: DataFrame): DataFrame = {
      val r = probe
        .join(hist.withColumnRenamed("k", key), Seq(key), "left")
        .select($"dig", coalesce($"c", lit(0L)).as("c"))
        .agg(sum($"c").as("actual"),
          coalesce(sum(when($"dig" < 26, $"c")), lit(0L)).as("s26"))
        .head()
      Seq((name, r.getLong(1) * 256L / 26L, r.getLong(0)))
        .toDF("first_join", "est_rows", "actual_rows")
    }
    val ledger = arm("orders_first", "l_orderkey", selOrders)
      .unionByName(arm("parts_first", "l_partkey", selParts))
    val best = ledger.agg(min($"est_rows").as("best_est"))
    ledger.crossJoin(broadcast(best))
      .withColumn("advised", $"est_rows" === $"best_est")
      .select($"first_join", $"est_rows", $"actual_rows", $"advised")
      .orderBy($"first_join")
  }

  private val q361Sql =
    """WITH probe AS (
      |  SELECT l_orderkey, l_partkey,
      |    CAST(('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '#'
      |      || CAST(l_linenumber AS VARCHAR)), 1, 2)) AS BIGINT) AS dig
      |  FROM lineitem),
      |so AS (
      |  SELECT o_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM orders WHERE o_orderpriority = '5-LOW' GROUP BY 1),
      |sp AS (
      |  SELECT p_partkey AS k, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM part WHERE p_brand = 'Brand#13' GROUP BY 1),
      |ledger AS (
      |  SELECT 'orders_first' AS first_join,
      |    CAST(COALESCE(SUM(c) FILTER (WHERE dig < 26), 0) * 256 // 26
      |      AS BIGINT) AS est_rows,
      |    CAST(SUM(c) AS BIGINT) AS actual_rows
      |  FROM (SELECT p.dig, COALESCE(b.c, 0) AS c
      |        FROM probe p LEFT JOIN so b ON b.k = p.l_orderkey) j
      |  UNION ALL
      |  SELECT 'parts_first',
      |    CAST(COALESCE(SUM(c) FILTER (WHERE dig < 26), 0) * 256 // 26
      |      AS BIGINT),
      |    CAST(SUM(c) AS BIGINT)
      |  FROM (SELECT p.dig, COALESCE(b.c, 0) AS c
      |        FROM probe p LEFT JOIN sp b ON b.k = p.l_partkey) j)
      |SELECT first_join, est_rows, actual_rows,
      |  est_rows = (SELECT MIN(est_rows) FROM ledger) AS advised
      |FROM ledger ORDER BY first_join""".stripMargin

  // ---- q364: range selectivity from equi-depth boundaries ---------------

  /** q364: RANGE-SELECTIVITY ESTIMATION, oracle-gated — the statistic
    * a CBO keeps when it CANNOT keep q360's full histogram: 8
    * equi-depth bucket boundaries (exact order statistics at ranks
    * (n−1)·j DIV 8 over the merged q360 store), and the textbook
    * uniform-within-bucket interpolation for a range predicate's
    * selectivity — est = Σ_buckets overlap_ppm DIV 8, where
    * overlap_ppm = (min(hi,b₊)−max(lo,b))·10⁶ DIV (b₊−b), clamped;
    * a zero-width bucket contributes all-or-nothing. Three fixed
    * ranges spanning a narrow head slice, a middle band, and a wide
    * tail band are each priced by the ESTIMATOR (which sees only the
    * 9 boundary values) and ground-truthed EXACTLY from the histogram;
    * est, actual, and the signed error are all integer ppm, so DuckDB
    * replays the whole ledger bit-for-bit. Round19Spec additionally
    * bounds the estimator's error on the driver distribution — the
    * point of equi-depth over equi-width: every bucket holds n/8 rows,
    * so the interpolation error per range is at most ~2 buckets.
    */
  private def q364(s: SparkSession, d: String): DataFrame =
    // r20: the ledger references its boundary frame from THREE subtrees
    // (lo8/hi8 inside `ranges`, the estimator's buckets) — as a lazy
    // plan each one re-ran the store scan + merge + rank walk (~3× the
    // whole boundary build, measured 2.1 s wall for a 3-row ledger).
    // Materialize the 9-row frame once; q366 gets this for free (its
    // boundaries are already a persisted 9-row parquet).
    selectivityLedger(s, d, equiDepthBounds(s, d).localCheckpoint())

  /** The 9 equi-depth boundaries (j, b, n) from the merged quantile
    * store — b_j straddles rank (n−1)·j DIV 8.
    */
  private def equiDepthBounds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r20: the merged histogram feeds BOTH the cumulative walk and the
    // 1-row total below — materialize the value-grain frame (distinct
    // cents, bounded) so the store scan + merge runs once, not twice
    val hist = mergedHist(s, d).localCheckpoint()
    val w = org.apache.spark.sql.expressions.Window.orderBy($"cents")
    val cum = hist
      .withColumn("cum", sum($"cnt").over(w))
      .crossJoin(broadcast(hist.agg(sum($"cnt").as("n")))) // 1-row total
    cum
      .withColumn("j", explode(sequence(lit(0), lit(8))))
      .withColumn("r", expr("((n - 1) * j) DIV 8"))
      .where($"cum" > $"r" && $"cum" - $"cnt" <= $"r")
      .groupBy($"j").agg(min($"cents").as("b"), min($"n").as("n"))
  }

  private def mergedHist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    s.read.parquet(s"${quantStore(s, d)}/hist")
      .groupBy($"cents").agg(sum($"cnt").as("cnt"))
  }

  /** The equi-depth interpolation estimator — ONE spelling shared by
    * the q364/q366 ledger and q371's plan decision (so the ledger the
    * oracle certifies and the number a join strategy keys on cannot
    * drift): per (range × bucket), overlap_ppm = clamped
    * (min(hi,b₊)−max(lo,b))·10⁶ DIV (b₊−b) (zero-width buckets
    * all-or-nothing), est = Σ DIV 8. Sees ONLY the 9 boundaries.
    */
  private def rangeEstPpm(
      s: SparkSession, bounds: DataFrame, ranges: DataFrame): DataFrame = {
    import s.implicits._
    val buckets = bounds.select($"j", $"b")
      .withColumn("bn", lead($"b", 1).over(
        org.apache.spark.sql.expressions.Window.orderBy($"j")))
      .where($"bn".isNotNull)
    ranges.crossJoin(broadcast(buckets)) // few-row × 8-row
      .withColumn("ov",
        least($"hi", $"bn") - greatest($"lo", $"b"))
      .withColumn("frac_ppm",
        when($"bn" === $"b",
          when($"b" >= $"lo" && $"b" < $"hi", lit(1000000L))
            .otherwise(lit(0L)))
          .otherwise(expr(
            "greatest(0L, least(1000000L, (ov * 1000000) DIV (bn - b)))")))
      .groupBy($"range_id", $"lo", $"hi", $"n")
      .agg(expr("sum(frac_ppm) DIV 8").as("est_ppm"))
  }

  /** The q364 ledger from a 9-row boundary frame — ONE spelling shared
    * by q364 (boundaries computed in-plan) and q366 (boundaries read
    * back from the persisted artifact), so the two cannot drift. The
    * exact arm always prices from the merged histogram.
    */
  private def selectivityLedger(
      s: SparkSession, d: String, bounds: DataFrame): DataFrame = {
    import s.implicits._
    val hist = mergedHist(s, d)
    val lo8 = bounds.where($"j" === 0).select($"b".as("bmin"), $"n")
    val hi8 = bounds.where($"j" === 8).select($"b".as("bmax"))
    // three deterministic ranges off the value span
    val ranges = lo8.crossJoin(broadcast(hi8))
      .withColumn("span", $"bmax" - $"bmin")
      .select(explode(array(
        struct(lit("head_5pct").as("range_id"),
          $"bmin".as("lo"),
          ($"bmin" + expr("span DIV 20")).as("hi"), $"n"),
        struct(lit("mid_band").as("range_id"),
          ($"bmin" + expr("span DIV 3")).as("lo"),
          ($"bmin" + expr("span DIV 2")).as("hi"), $"n"),
        struct(lit("wide_tail").as("range_id"),
          ($"bmin" + expr("span DIV 2")).as("lo"),
          ($"bmin" + expr("(span * 19) DIV 20")).as("hi"), $"n"),
      )).as("rg"))
      .select($"rg.range_id", $"rg.lo", $"rg.hi", $"rg.n")
    // estimator arm: sees ONLY the 9 boundaries
    val est = rangeEstPpm(s, bounds, ranges)
    // exact arm: the histogram itself
    val actual = hist.crossJoin(broadcast(ranges))
      .where($"cents" >= $"lo" && $"cents" < $"hi")
      .groupBy($"range_id")
      .agg(sum($"cnt").as("actual_rows"))
    est.join(actual, Seq("range_id"), "left")
      .na.fill(0L, Seq("actual_rows"))
      .withColumn("actual_ppm", expr("(actual_rows * 1000000) DIV n"))
      .withColumn("err_ppm", $"est_ppm" - $"actual_ppm")
      .select($"range_id", $"lo", $"hi", $"est_ppm", $"actual_ppm",
        $"err_ppm")
      .orderBy($"range_id")
  }

  private val q364Sql =
    """WITH h AS (
      |  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1),
      |c AS (
      |  SELECT cents, cnt,
      |    SUM(cnt) OVER (ORDER BY cents) AS cum,
      |    SUM(cnt) OVER () AS n
      |  FROM h),
      |b AS (
      |  SELECT j, MIN(cents) AS b, MIN(n) AS n
      |  FROM c CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS j) g
      |  WHERE cum > ((n - 1) * j) // 8 AND cum - cnt <= ((n - 1) * j) // 8
      |  GROUP BY j),
      |span AS (
      |  SELECT b0.b AS bmin, b8.b AS bmax, b8.b - b0.b AS span, b0.n
      |  FROM (SELECT b, n FROM b WHERE j = 0) b0,
      |       (SELECT b FROM b WHERE j = 8) b8),
      |ranges AS (
      |  SELECT 'head_5pct' AS range_id, bmin AS lo,
      |    bmin + span // 20 AS hi, n FROM span
      |  UNION ALL
      |  SELECT 'mid_band', bmin + span // 3, bmin + span // 2, n FROM span
      |  UNION ALL
      |  SELECT 'wide_tail', bmin + span // 2,
      |    bmin + (span * 19) // 20, n FROM span),
      |buckets AS (
      |  SELECT j, b, LEAD(b) OVER (ORDER BY j) AS bn FROM b
      |  QUALIFY bn IS NOT NULL),
      |est AS (
      |  SELECT range_id, lo, hi, n,
      |    CAST(SUM(CASE WHEN bn = b
      |      THEN CASE WHEN b >= lo AND b < hi THEN 1000000 ELSE 0 END
      |      ELSE GREATEST(0, LEAST(1000000,
      |        ((LEAST(hi, bn) - GREATEST(lo, b)) * 1000000) // (bn - b)))
      |      END) // 8 AS BIGINT) AS est_ppm
      |  FROM ranges CROSS JOIN buckets
      |  GROUP BY range_id, lo, hi, n),
      |act AS (
      |  SELECT range_id, CAST(COALESCE(SUM(cnt), 0) AS BIGINT)
      |    AS actual_rows
      |  FROM ranges r LEFT JOIN h
      |    ON h.cents >= r.lo AND h.cents < r.hi
      |  GROUP BY range_id)
      |SELECT e.range_id, lo, hi, est_ppm,
      |  CAST((a.actual_rows * 1000000) // n AS BIGINT) AS actual_ppm,
      |  CAST(est_ppm - (a.actual_rows * 1000000) // n AS BIGINT)
      |    AS err_ppm
      |FROM est e JOIN act a ON a.range_id = e.range_id
      |ORDER BY e.range_id""".stripMargin

  /** Build-if-absent PERSISTED boundary artifact (q351's discipline on
    * q364's statistic): 9 rows per source version, every later
    * selectivity decision a metadata read.
    */
  private val bounds = StoreGuard.declare("target/stage_analyze",
      "bounds_lineitem", "lineitem.parquet", extra = "depth:8",
      payload = Seq("bounds")) { (s, d, root) =>
    equiDepthBounds(s, d)
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/bounds")
  }

  private def boundaryStore(s: SparkSession, d: String): String =
    bounds.ensure(s, d)

  /** q366: the PERSISTED boundary artifact read back — the same
    * selectivity ledger as q364 served from the stored 9 rows through
    * the SHARED [[selectivityLedger]] spelling, hash-gated against
    * q364's oracle verbatim (q260's store ≡ recompute discipline): a
    * stale or drifted boundary store mis-prices a range and fails the
    * hash.
    */
  private def q366(s: SparkSession, d: String): DataFrame =
    selectivityLedger(s, d,
      s.read.parquet(s"${boundaryStore(s, d)}/bounds"))

  // ---- q363: skew diagnosis + salt advice -------------------------------

  /** Reducer count the skew arithmetic is sized for — the session's
    * shuffle parallelism (32 on the bench contract; a cluster job
    * passes its own).
    */
  private[graft] val SkewParallelism = 32L

  /** q363: SKEW DIAGNOSIS + SALT ADVICE, oracle-gated — the decision
    * that parameterizes [[Salting.saltedJoin]] from MEASURED key
    * histograms instead of folklore constants: per join key, the
    * measured row count, its ppm share, the ideal per-reducer row
    * count ⌈n/P⌉, the advised salt factor ⌈c/ideal⌉ (how many
    * sub-keys the hot key needs so no reducer carries more than the
    * ideal), and the skew verdict c > ideal. Everything is integer
    * arithmetic over one map-side-combinable histogram — the oracle
    * replays it exactly, and Round19Spec applies the advised factor
    * through the REAL salting device and proves the hot key actually
    * fans out over that many sub-keys with the join result unchanged.
    * The events⋈type-dim join is the engine's canonical skew case:
    * 5 keys carry everything, so an unsalted hash join leaves P−5
    * reducers idle — exactly what this ledger makes visible before
    * the join runs.
    */
  private def q363(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val p = SkewParallelism
    val hist = Tables.events(s, d)
      .groupBy($"event_type").agg(count(lit(1)).as("c"))
    val tot = hist.agg(sum($"c").as("n"))
    hist.crossJoin(broadcast(tot)) // 1-row total
      .withColumn("ideal_rows", expr(s"(n + $p - 1) DIV $p"))
      .withColumn("share_ppm", expr("(c * 1000000) DIV n"))
      .withColumn("salt_factor",
        expr("(c + ideal_rows - 1) DIV ideal_rows"))
      .withColumn("is_skewed", $"c" > $"ideal_rows")
      .select($"event_type", $"c".as("n_rows"), $"share_ppm",
        $"ideal_rows", $"salt_factor", $"is_skewed")
      .orderBy($"event_type")
  }

  private val q363Sql =
    s"""WITH h AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1),
      |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM h),
      |i AS (SELECT (n + $SkewParallelism - 1) // $SkewParallelism
      |        AS ideal_rows, n FROM t)
      |SELECT event_type, c AS n_rows,
      |  (c * 1000000) // n AS share_ppm, ideal_rows,
      |  (c + ideal_rows - 1) // ideal_rows AS salt_factor,
      |  c > ideal_rows AS is_skewed
      |FROM h, i ORDER BY event_type""".stripMargin

  // ---- q365: shuffle-sizing advice ---------------------------------------

  /** Target on-heap bytes per shuffle partition (128 MiB — the
    * spark.sql.files.maxPartitionBytes default, the number the
    * shuffle.partitions knob is actually sized against).
    */
  private[graft] val PartitionTargetBytes = 128L * 1024 * 1024

  /** q365: SHUFFLE-SIZING ADVICE, oracle-gated — the remaining config
    * decision measured stats should make instead of folklore: per
    * driver table (small / medium / large exemplars), the measured
    * byte mass (q346's est_bytes summed over columns), the broadcast
    * verdict, and the advised shuffle-partition count
    * clamp(⌈bytes/128 MiB⌉, 1, 2000) — the q122 file-sizing
    * arithmetic applied to the exchange knob. A 100 TB job derives
    * `spark.sql.shuffle.partitions` from THIS ledger (per stage, from
    * the post-projection mass actually flowing into the exchange),
    * not from the session default; the bench's own 32 matches the
    * machine because every driver table advises ≤ 32 at test SF.
    * Integer arithmetic end to end; the oracle replays the same melt
    * and clamps per table.
    */
  private def q365(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = PartitionTargetBytes
    val arms = Seq("nation", "customer", "lineitem").map { name =>
      tableStats(Tables.load(s, d, name))
        .agg(coalesce(sum($"est_bytes"), lit(0L)).as("est_bytes"))
        .withColumn("table_name", lit(name))
    }
    arms.reduce(_ unionByName _)
      .withColumn("broadcastable",
        $"est_bytes" < lit(BroadcastBudgetBytes))
      .withColumn("advised_partitions", expr(
        s"least(2000L, greatest(1L, (est_bytes + $t - 1) DIV $t))"))
      .select($"table_name", $"est_bytes", $"broadcastable",
        $"advised_partitions")
      .orderBy($"table_name")
  }

  private val q365Sql = {
    // per-table mass = Σ_cols (Σ coalesce(length(v),0) + 16·n_rows):
    // spelled per table as sum(lengths) + 16·rows·cols — identical to
    // the melt's column-sum because length is per-cell
    def arm(table: String, cols: Seq[String]): String = {
      val lens = cols
        .map(c => s"COALESCE(LENGTH(CAST($c AS VARCHAR)), 0)")
        .mkString(" + ")
      s"""SELECT '$table' AS table_name,
         |  CAST(COALESCE(SUM($lens), 0) + 16 * COUNT(*) * ${cols.size}
         |    AS BIGINT) AS est_bytes
         |FROM $table""".stripMargin
    }
    val nation = arm("nation",
      Seq("n_nationkey", "n_name", "n_regionkey"))
    val customer = arm("customer",
      Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    val lineitem = arm("lineitem",
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"))
    s"""WITH arms AS ($nation UNION ALL $customer UNION ALL $lineitem)
      |SELECT table_name, est_bytes,
      |  est_bytes < ${BroadcastBudgetBytes} AS broadcastable,
      |  CAST(LEAST(2000, GREATEST(1,
      |    (est_bytes + $PartitionTargetBytes - 1)
      |      // $PartitionTargetBytes)) AS BIGINT) AS advised_partitions
      |FROM arms ORDER BY table_name""".stripMargin
  }

  // ---- q368/q369/q370: the CBO loop CLOSED (r19 verdict items 4-6) -----

  /** Scoped `spark.sql.shuffle.partitions` override for an eagerly
    * evaluated body — the batch twin of the streaming helper: the conf
    * is read at ACTION time, so a query that derives its exchange
    * width from measured stats must hold the override while it runs,
    * then restore the session default.
    */
  private def withSessionShuffle[T](
      s: SparkSession, n: Long)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, old)
  }

  /** Build-if-absent CBO artifact for the σ(orders)⋈lineitem⋈σ(part)
    * join: q361's measured join-order ledger, each FILTERED dim's
    * measured byte mass (the broadcast decision input — the mass of
    * what would actually ship, not the unfiltered table), and the
    * group key's exact NDV + width from the persisted ANALYZE store
    * (the agg-exchange sizing input). Three metadata-sized parquet
    * frames; every q368 run PLANS from them without re-measuring.
    */
  private val cbo = StoreGuard.declare("target/stage_analyze",
      "cbo_l_o_p", "lineitem.parquet",
      payload = Seq("ledger", "dims", "groupkey")) { (s, d, root) =>
    q361(s, d).coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/ledger")
    val dims = Seq(
      ("orders_first", Tables.orders(s, d)
        .where(col("o_orderpriority") === "5-LOW")
        .select(col("o_orderkey"))),
      ("parts_first", Tables.part(s, d)
        .where(col("p_brand") === "Brand#13")
        .select(col("p_partkey"))))
      .map { case (n, df) =>
        tableStats(df)
          .agg(coalesce(sum(col("est_bytes")), lit(0L)).as("est_bytes"))
          .withColumn("first_join", lit(n))
      }
      .reduce(_ unionByName _)
    dims.coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/dims")
    s.read.parquet(s"${statsStore(s, d, "lineitem")}/stats")
      .where(col("col_name") === "l_returnflag")
      .select(col("col_name"), col("ndv"), col("avg_len"))
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/groupkey")
  }

  private[graft] def cboStore(s: SparkSession, d: String): String =
    cbo.ensure(s, d)

  /** q368: STATS-PLANNED JOIN, oracle-gated — the decision loop the
    * r19 verdict called decorative finally CONSUMING its artifacts:
    * the 3-table join σ(orders) ⋈ lineitem ⋈ σ(part) is executed with
    * every physical decision read from [[cboStore]]'s persisted
    * measurements, never from folklore or file sizes:
    *
    *   1. JOIN ORDER — the dim with q361's `advised` bit joins first
    *      (smaller measured intermediate, the left-deep argmin);
    *   2. BROADCAST — each filtered dim broadcasts iff ITS measured
    *      byte mass fits the budget (the q346 statistic on the
    *      filtered projection, so the verdict prices what ships);
    *   3. AGG EXCHANGE WIDTH — `shuffle.partitions` for the final
    *      aggregate = clamp(⌈ndv(l_returnflag)·rowWidth/128 MiB⌉,
    *      1, 2000): q365's sizing arithmetic applied to what flows
    *      INTO that exchange (the partial-agg output is ndv-grain,
    *      not row-grain — sizing it from table mass would be wrong
    *      by 5 orders of magnitude at 100 TB).
    *
    * Each decision is PROVEN in-plan before the query runs (`require`s
    * on the executed plan: the advised dim is the innermost join, a
    * stored broadcast verdict materializes as a BroadcastHashJoin, the
    * agg exchange hash-partitions to exactly the advised width), and
    * the RESULT is decision-independent — the oracle replays the plain
    * 3-table join, so a wrong plan that changed the answer hash-fails,
    * while a right answer from an unproven plan fails the requires.
    * The round-19 Round19Spec salt/order drills proved the ADVICE; this
    * registers the CONSUMPTION.
    */
  private def q368(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = cboStore(s, d)
    val advised = s.read.parquet(s"$root/ledger")
      .where($"advised").orderBy($"est_rows", $"first_join")
      .select($"first_join").head().getString(0)
    val dimBytes = s.read.parquet(s"$root/dims").collect()
      .map(r => r.getAs[String]("first_join") -> r.getAs[Long]("est_bytes"))
      .toMap
    require(dimBytes.keySet == Set("orders_first", "parts_first"),
      s"cbo store under $root is missing a dim-mass row: ${dimBytes.keySet}")
    val gk = s.read.parquet(s"$root/groupkey").head()
    val aggParts = {
      val mass = gk.getAs[Long]("ndv") *
        (gk.getAs[Double]("avg_len").toLong + 16L)
      math.min(2000L, math.max(1L,
        (mass + PartitionTargetBytes - 1) / PartitionTargetBytes))
    }
    val selOrders = Tables.orders(s, d)
      .where($"o_orderpriority" === "5-LOW").select($"o_orderkey")
    val selParts = Tables.part(s, d)
      .where($"p_brand" === "Brand#13").select($"p_partkey")
    def sized(name: String, df: DataFrame): DataFrame =
      if (dimBytes(name) < BroadcastBudgetBytes) broadcast(df) else df
    val li = Tables.lineitem(s, d).select($"l_orderkey", $"l_partkey",
      $"l_returnflag",
      expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"))
    val joined =
      if (advised == "orders_first")
        li.join(sized("orders_first", selOrders),
            $"l_orderkey" === $"o_orderkey")
          .join(sized("parts_first", selParts),
            $"l_partkey" === $"p_partkey")
      else
        li.join(sized("parts_first", selParts),
            $"l_partkey" === $"p_partkey")
          .join(sized("orders_first", selOrders),
            $"l_orderkey" === $"o_orderkey")
    val rows = withSessionShuffle(s, aggParts) {
      val agg = joined.groupBy($"l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum($"cents").cast("long").as("sum_cents"))
        .orderBy($"l_returnflag")
      val plan = agg.queryExecution.executedPlan.toString
      // in-plan proofs: every stored decision materialized physically
      val oPos = plan.indexOf("], [o_orderkey")
      val pPos = plan.indexOf("], [p_partkey")
      require(oPos >= 0 && pPos >= 0,
        "stats-planned join lost a dim join in the physical plan")
      require((advised == "orders_first") == (oPos > pPos),
        s"advised order '$advised' is not the innermost join " +
          "(executed plans print deeper nodes later)")
      for ((name, key) <- Seq(("orders_first", "o_orderkey"),
          ("parts_first", "p_partkey")) if dimBytes(name) <
            BroadcastBudgetBytes)
        require(
          s"""BroadcastHashJoin \\[\\w+#\\d+L?\\], \\[$key""".r
            .findFirstIn(plan).nonEmpty,
          s"stored broadcast verdict for $name did not materialize " +
            "as a BroadcastHashJoin")
      val exParts = s"""hashpartitioning\\(l_returnflag#\\d+, (\\d+)\\)""".r
        .findFirstMatchIn(plan).map(_.group(1).toLong)
      require(exParts.contains(aggParts),
        s"agg exchange width $exParts != advised $aggParts")
      agg.collect().toSeq
    }
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toDF("l_returnflag", "n_rows", "sum_cents")
  }

  private val q368Sql =
    """SELECT l_returnflag,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents
      |FROM lineitem
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN part ON p_partkey = l_partkey
      |WHERE o_orderpriority = '5-LOW' AND p_brand = 'Brand#13'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Build-if-absent persisted q363 skew ledger — the salt decision
    * as an artifact, one metadata read per consuming join.
    */
  private val skew = StoreGuard.declare("target/stage_analyze",
      "skew_events_type", "events.parquet",
      payload = Seq("skew")) { (s, d, root) =>
    q363(s, d).coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/skew")
  }

  private[graft] def skewStore(s: SparkSession, d: String): String =
    skew.ensure(s, d)

  /** q369: SALTED JOIN FROM STORED ADVICE, oracle-gated — q363's salt
    * factor consumed by a production join: the events⋈type-dim join
    * (5 keys carry everything — the engine's canonical skew case) runs
    * through [[Salting.saltedJoin]] with the fan-out read from the
    * PERSISTED skew ledger (the max advised factor over keys the
    * measurement called skewed), and the plan must prove it — the
    * salted fact's `pmod(xxhash64(event_id), factor)` literal carries
    * the stored number. The aggregate result is salt-independent, so
    * the oracle replays the unsalted join: a green row proves the
    * measured fan-out changed the SHUFFLE, not the answer. (Round19Spec
    * proved the device fans the hot key; this registers the
    * measure → store → plan path.)
    */
  private def q369(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = skewStore(s, d)
    val factor = s.read.parquet(s"$root/skew")
      .agg(coalesce(max(when($"is_skewed", $"salt_factor")), lit(1L)))
      .head().getLong(0)
    require(factor >= 1L, s"stored salt advice under $root is empty")
    val ev = Tables.events(s, d)
      .select($"event_id", $"event_type")
    val dim = Tables.events(s, d).select($"event_type").distinct()
      .withColumn("type_weight", length($"event_type").cast("long"))
    val joined = Salting.saltedJoin(ev, dim, "event_type", "event_id",
      factor.toInt)
    val out = joined.groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"),
        sum($"event_id").cast("long").as("sum_event_id"),
        min($"type_weight").as("type_weight"))
      .orderBy($"event_type")
    val plan = out.queryExecution.executedPlan.toString
    require(
      s"""pmod\\(xxhash64\\(event_id#\\d+L?, 42\\), $factor\\)""".r
        .findFirstIn(plan).nonEmpty,
      s"the stored salt factor $factor is not the plan's fan-out — " +
        "the advice was not consumed")
    out
  }

  private val q369Sql =
    """WITH dim AS (
      |  SELECT event_type, CAST(LENGTH(event_type) AS BIGINT)
      |    AS type_weight
      |  FROM (SELECT DISTINCT event_type FROM events))
      |SELECT e.event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(e.event_id) AS BIGINT) AS sum_event_id,
      |  CAST(MIN(d.type_weight) AS BIGINT) AS type_weight
      |FROM events e JOIN dim d ON d.event_type = e.event_type
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q370: STATS-STORE COMPACTION, oracle-gated — the maintenance verb
    * for the stats-store family (r19 verdict item 5): the incremental
    * ANALYZE store's per-batch `coalesce(1)` appends are exactly the
    * layout that fragments over a year of batches, so the q356/q321
    * drill runs HERE too — the KMV sketch rows are staged into the
    * month-of-appends fragmented layout (base + sprayed deltas per
    * bucket, one right-sized byte-carry bucket), compacted under the
    * in-plan `require`s (layout preserved, file target met, ≥3×
    * collapse, skipped dir byte-identical), and the SERVED readout
    * goes through the SAME [[mergedStatsReadout]] spelling against
    * q359's oracle VERBATIM — compacted store ≡ one-scan recompute,
    * the q260 discipline. Partials ride along as a single-file
    * rewrite (they are |cols|·batches rows — metadata-sized).
    */
  private def q370(s: SparkSession, d: String): DataFrame = {
    val src = incrStatsStore(s, d)
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"target/graft_stats_store/q370_compact_$tag"
    val served = StoreCompact.fragmentCompactServe(s,
      s.read.parquet(s"$src/sketch"), "h", root)
    val outRoot = s"$root/store"
    served.coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outRoot/sketch")
    s.read.parquet(s"$src/partials").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outRoot/partials")
    mergedStatsReadout(s, outRoot)
  }

  /** q371: SELECTIVITY-PLANNED JOIN STRATEGY, oracle-gated — the last
    * CBO ledger consumed by a plan decision (q368 took order/
    * broadcast/width, q369 the salt; this takes q366's range
    * selectivity): for the head-5% price band derived from the STORED
    * equi-depth boundaries (the same 9-row read q366 serves), the
    * filtered fact's estimated mass = stored table mass (q346's
    * artifact) × est_ppm (the SHARED [[rangeEstPpm]] interpolation)
    * decides the orders⋈σ(lineitem) strategy: under the budget the
    * FILTERED side broadcasts — the decision a planner cannot make
    * from table-level stats alone, because the unfiltered fact is
    * never broadcastable; only a selectivity estimate prices the
    * band. The decision is proven in-plan when it fires; the answer
    * is strategy-independent and the oracle replays boundary
    * derivation + range + join in plain SQL. Round20Spec locks the
    * refused arm (zero budget ⇒ shuffle join) with autobroadcast off.
    *
    * 100 TB story: est costs a 9-row + 1-row metadata read; the wrong
    * default (always shuffle) pays a full fact exchange for a band
    * that fits in a broadcast, and the other wrong default (trust
    * file-size estimates) never fires because the FILTER's output size
    * is unknown to the planner without exactly this histogram.
    */
  private def q371(s: SparkSession, d: String): DataFrame =
    q371Inner(s, d, BroadcastBudgetBytes)

  private[graft] def q371Inner(
      s: SparkSession, d: String, budget: Long): DataFrame = {
    import s.implicits._
    val bounds = s.read.parquet(s"${boundaryStore(s, d)}/bounds")
    val lo8 = bounds.where($"j" === 0).select($"b".as("bmin"), $"n")
    val hi8 = bounds.where($"j" === 8).select($"b".as("bmax"))
    val ranges = lo8.crossJoin(broadcast(hi8))
      .withColumn("span", $"bmax" - $"bmin")
      .select(lit("head_5pct").as("range_id"), $"bmin".as("lo"),
        ($"bmin" + expr("span DIV 20")).as("hi"), $"n")
    val est = rangeEstPpm(s, bounds, ranges).head()
    val (lo, hi) = (est.getAs[Long]("lo"), est.getAs[Long]("hi"))
    val estBytes = storedMassBytes(s, d, "lineitem") *
      est.getAs[Long]("est_ppm") / 1000000L
    val filtered = Tables.lineitem(s, d)
      .withColumn("cents",
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)"))
      .where($"cents" >= lo && $"cents" < hi)
      .select($"l_orderkey", $"cents")
    val doBroadcast = estBytes < budget
    val side = if (doBroadcast) broadcast(filtered) else filtered
    val out = Tables.orders(s, d)
      .join(side, $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        sum($"cents").cast("long").as("sum_cents"))
      .orderBy($"o_orderpriority")
    // prove the fired decision physically; the refused arm is locked
    // in Round20Spec with size-estimate autobroadcast disabled (here a
    // small ACTUAL band could legitimately auto-broadcast)
    if (doBroadcast)
      require(out.queryExecution.executedPlan.toString
          .contains("BroadcastHashJoin"),
        "selectivity advice said broadcast but the plan shuffles")
    out
  }

  private val q371Sql =
    """WITH h AS (
      |  SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
      |    CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM lineitem GROUP BY 1),
      |c AS (
      |  SELECT cents, cnt,
      |    SUM(cnt) OVER (ORDER BY cents) AS cum,
      |    SUM(cnt) OVER () AS n
      |  FROM h),
      |b AS (
      |  SELECT j, MIN(cents) AS b
      |  FROM c CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS j) g
      |  WHERE cum > ((n - 1) * j) // 8 AND cum - cnt <= ((n - 1) * j) // 8
      |  GROUP BY j),
      |rng AS (
      |  SELECT b0.b AS lo, b0.b + (b8.b - b0.b) // 20 AS hi
      |  FROM (SELECT b FROM b WHERE j = 0) b0,
      |       (SELECT b FROM b WHERE j = 8) b8)
      |SELECT o_orderpriority,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents
      |FROM orders
      |JOIN lineitem ON o_orderkey = l_orderkey
      |CROSS JOIN rng
      |WHERE CAST(ROUND(l_extendedprice * 100) AS BIGINT) >= lo
      |  AND CAST(ROUND(l_extendedprice * 100) AS BIGINT) < hi
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q372: QUANTILE-STORE COMPACTION, oracle-gated — q370's drill for
    * the OTHER incremental store class: the q360 histogram's per-batch
    * appends run through the q356/q321 fragmentCompactServe staging
    * (slot = the cents value, so buckets are value-hash-uniform) and
    * the SERVED rows feed the SAME [[quantReadout]] walk against
    * q360's oracle VERBATIM — compacted store ≡ one-scan recompute of
    * the full distribution, q260's discipline on the distribution
    * statistic.
    */
  private def q372(s: SparkSession, d: String): DataFrame = {
    val src = quantStore(s, d)
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"target/graft_stats_store/q372_compact_$tag"
    quantReadout(s, StoreCompact.fragmentCompactServe(s,
      s.read.parquet(s"$src/hist"), "cents", root))
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q346_table_stats", q346, Some(q346Sql)),
    QueryDef("q350_join_cardinality", q350, Some(q350Sql)),
    // the persisted ANALYZE store, hash-gated against the SAME SQL as
    // the direct compute — store ≡ recompute (q260's pattern)
    QueryDef("q351_stats_store", q351, Some(q346Sql)),
    // incremental ANALYZE: per-batch partials merged at read time,
    // oracle = one full recompute (merge ≡ recompute, q260 discipline)
    QueryDef("q359_incremental_analyze", q359, Some(q359Sql)),
    // exact order statistics from merged per-batch histograms
    QueryDef("q360_incremental_quantiles", q360, Some(q360Sql)),
    // the join-ORDER decision fed by sampled cardinality estimates
    QueryDef("q361_join_order_advice", q361, Some(q361Sql)),
    // q359's store maintained by a live stream; same merge spelling,
    // oracle = the same one-scan recompute (batching-independent)
    QueryDef("q362_stream_analyze",
      (s, d) => graft.streaming.Streams.streamAnalyze(s, d),
      Some(q362Sql)),
    // measured-histogram skew diagnosis parameterizing the salt device
    QueryDef("q363_skew_salt_advice", q363, Some(q363Sql)),
    // equi-depth boundaries pricing range predicates (CBO selectivity)
    QueryDef("q364_range_selectivity", q364, Some(q364Sql)),
    // measured-mass shuffle-partition sizing (the q122 arithmetic on
    // the exchange knob)
    QueryDef("q365_shuffle_sizing", q365, Some(q365Sql)),
    // the persisted boundary artifact served back, q364's oracle
    // verbatim (store ≡ recompute)
    QueryDef("q366_boundary_store", q366, Some(q364Sql)),
    // the CBO loop CLOSED: join order, broadcast, and exchange width
    // all read from the persisted measured artifacts and proven
    // in-plan; the oracle replays the plain join (plan-independent)
    QueryDef("q368_stats_planned_join", q368, Some(q368Sql)),
    // q363's salt factor consumed from its persisted ledger by a real
    // salted join, fan-out proven in-plan, oracle = the unsalted join
    QueryDef("q369_salted_join_stored", q369, Some(q369Sql)),
    // the stats store through the q356/q321 compaction drill; oracle =
    // q359's recompute VERBATIM (compacted store ≡ recompute)
    QueryDef("q370_stats_store_compaction", q370, Some(q359Sql)),
    // q366's selectivity estimate deciding a join STRATEGY (broadcast
    // the filtered band iff its estimated mass fits), proven in-plan;
    // oracle replays boundaries + range + join in plain SQL
    QueryDef("q371_selectivity_planned", q371, Some(q371Sql)),
    // the quantile store through the compaction drill; oracle = q360's
    // recompute VERBATIM (compacted store ≡ recompute)
    QueryDef("q372_quant_store_compaction", q372, Some(q360Sql)),
  )
}
