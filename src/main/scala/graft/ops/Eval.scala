package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Model-evaluation and decision-readout operators — the layer that sits
  * between the engine's statistics (`ops/Stats.scala`) and a model: did
  * the score rank well (ROC/AUC, gains), did treatment shift outcomes
  * (Mann–Whitney, log-rank, diff-in-diff), which of many signals are
  * real (Benjamini–Hochberg), how should credit split (Shapley), and is
  * the score calibrated (isotonic fit). The reference generates event
  * streams FOR learning systems (`/root/reference/README.md:3-6`) but
  * evaluates nothing — every operator here is ABSENT-IN-REF.
  *
  * The module inherits `ops/Stats.scala`'s exactness discipline:
  * rank/count machinery is INTEGER until one final division (AUC, U, the
  * gains table), rational comparisons cross-multiply instead of dividing
  * (BH step-up, the isotonic order key), per-group terms that must
  * float-sum are rounded to fixed-point units first, and every remaining
  * double is built from integer sums in IDENTICAL operand order in the
  * Spark plan and the DuckDB oracle — so the whole module hash-matches
  * bit-for-bit under the driver's compare.
  */
object Eval {

  private val centsExpr = "CAST(ROUND(value * 100) AS BIGINT)"
  private val hrExpr = "(unix_micros(ts) DIV 3600000000) % 24"
  private val hrSqlExpr = "(epoch_us(ts) // 3600000000) % 24"

  /** q240: EXACT ROC AUC per hour-of-day — "does `value` rank purchases
    * above non-purchases, and does that hold around the clock?", the
    * universal binary-ranking metric. AUC is computed by the
    * Mann–Whitney identity AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺n⁻) with
    * AVERAGE ranks for ties, not by sweeping thresholds: sweeping
    * enumerates cutpoints, the rank identity is one aggregate.
    *
    * Shape is histogram-first (q186's device): one event-cardinality
    * hash aggregate to (hour, cent) → (positives, total); every later
    * row count is bounded by the value domain. Tie handling stays
    * INTEGER by carrying 2× the rank sum: a bucket of `tot` rows whose
    * predecessors total `cb` has average rank (2cb + tot + 1)/2, so the
    * positives contribute pos·(2cb + tot + 1) to 2R⁺ exactly. The one
    * float division per hour happens at the end.
    */
  /** q240's rank arithmetic over any (hr, c) → (pos, tot) histogram —
    * shared by the whole-corpus run (q240) and the store-merged
    * incremental run (q260), so the two paths cannot drift.
    */
  private def aucFromHist(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{sum => fsum}
    val runW = Window.partitionBy(col("hr")).orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cb", fsum(col("tot")).over(runW) - col("tot"))
      .withColumn("contrib",
        col("pos") * (lit(2L) * col("cb") + col("tot") + 1L))
      .groupBy(col("hr"))
      .agg(fsum(col("pos")).as("n_pos"),
        (fsum(col("tot")) - fsum(col("pos"))).as("n_neg"),
        fsum(col("contrib")).as("rs2"))
      .withColumn("u2", col("rs2") - col("n_pos") * (col("n_pos") + 1L))
      .withColumn("auc",
        round(col("u2").cast("double") /
          (lit(2.0) * col("n_pos").cast("double") *
            col("n_neg").cast("double")), 6))
      .select(col("hr"), col("n_pos"), col("n_neg"), col("u2"),
        col("auc"))
      .orderBy(col("hr"))
  }

  private def eventsHist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables
      .events(s, d)
      .select(expr(hrExpr).as("hr"), expr(centsExpr).as("c"),
        when($"event_type" === "purchase", 1L).otherwise(0L).as("p"),
        unix_micros($"ts").as("us"))
  }

  private def q240(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    aucFromHist(
      eventsHist(s, d)
        .groupBy($"hr", $"c")
        .agg(sum($"p").as("pos"), count(lit(1)).as("tot")))
  }

  private val q240Sql =
    s"""WITH hist AS (
      |  SELECT $hrSqlExpr AS hr, $centsExpr AS c,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS pos,
      |    COUNT(*) AS tot
      |  FROM events GROUP BY 1, 2),
      |ranked AS (
      |  SELECT hr, pos, tot,
      |    SUM(tot) OVER (PARTITION BY hr ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tot
      |      AS cb
      |  FROM hist),
      |agg AS (
      |  SELECT hr, CAST(SUM(pos) AS BIGINT) AS n_pos,
      |    CAST(SUM(tot) - SUM(pos) AS BIGINT) AS n_neg,
      |    CAST(SUM(pos * (2 * cb + tot + 1)) AS BIGINT) AS rs2
      |  FROM ranked GROUP BY hr)
      |SELECT hr, n_pos, n_neg,
      |  rs2 - n_pos * (n_pos + 1) AS u2,
      |  ROUND(CAST(rs2 - n_pos * (n_pos + 1) AS DOUBLE) /
      |    (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
      |    AS auc
      |FROM agg ORDER BY hr""".stripMargin

  /** q241: GAINS / LIFT TABLE — "score everything, contact the top k%:
    * what fraction of purchases do we capture?", the campaign-targeting
    * readout next to q240's AUC. Depth cutoffs are rank thresholds
    * R_k = ⌊kN/10⌋; the table reports, at the deepest score cutoff
    * whose cumulative row count stays ≤ R_k, the rows reached and
    * positives captured. Tied scores are never split across a decile —
    * the cutoff recedes to the previous distinct score (deterministic
    * and histogram-expressible, where NTILE's tie-splitting would need
    * a total order over raw rows — a global sort of the corpus).
    *
    * Scale: one event-cardinality aggregate to the cent histogram;
    * the cumulative window and the 10-row threshold join run over the
    * value DOMAIN (thousands of cents), never rows — q203's
    * domain-sized-window discipline. Both cumulative columns are
    * monotone along the scan order, so per-decile depth/captured are
    * plain MAXes after the ≤ R_k filter.
    */
  private def q241(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tables
      .events(s, d)
      .select(expr(centsExpr).as("c"),
        when($"event_type" === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy($"c")
      .agg(sum($"p").as("pos"), count(lit(1)).as("tot"))
    val runW = Window.orderBy($"c".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = hist
      .withColumn("cum_n", sum($"tot").over(runW))
      .withColumn("cum_pos", sum($"pos").over(runW))
      .withColumn("n", sum($"tot").over(allW))
      .withColumn("np", sum($"pos").over(allW))
    val deciles = s.range(1, 11).select($"id".as("k"))
    cum
      .join(broadcast(deciles),
        $"cum_n" * 10L <= $"k" * $"n")
      .groupBy($"k")
      .agg(max($"cum_n").as("depth_n"), max($"cum_pos").as("captured"),
        max($"n").as("n"), max($"np").as("n_pos"))
      .withColumn("capture_rate",
        round($"captured".cast("double") / $"n_pos".cast("double"), 6))
      .withColumn("lift",
        round(($"captured".cast("double") * $"n".cast("double")) /
          ($"n_pos".cast("double") * $"depth_n".cast("double")), 6))
      .select($"k", $"depth_n", $"captured", $"capture_rate", $"lift")
      .orderBy($"k")
  }

  private val q241Sql =
    s"""WITH hist AS (
      |  SELECT $centsExpr AS c,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS pos,
      |    COUNT(*) AS tot
      |  FROM events GROUP BY 1),
      |cum AS (
      |  SELECT
      |    SUM(tot) OVER (ORDER BY c DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
      |    SUM(pos) OVER (ORDER BY c DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS cum_pos,
      |    SUM(tot) OVER () AS n, SUM(pos) OVER () AS np
      |  FROM hist)
      |SELECT k, CAST(MAX(cum_n) AS BIGINT) AS depth_n,
      |  CAST(MAX(cum_pos) AS BIGINT) AS captured,
      |  ROUND(CAST(MAX(cum_pos) AS DOUBLE) /
      |    CAST(MAX(np) AS DOUBLE), 6) AS capture_rate,
      |  ROUND((CAST(MAX(cum_pos) AS DOUBLE) * CAST(MAX(n) AS DOUBLE)) /
      |    (CAST(MAX(np) AS DOUBLE) * CAST(MAX(cum_n) AS DOUBLE)), 6)
      |    AS lift
      |FROM cum, range(1, 11) r(k)
      |WHERE cum_n * 10 <= k * n
      |GROUP BY k ORDER BY k""".stripMargin

  /** q242: MANN–WHITNEY U (Wilcoxon rank-sum) for every type pair —
    * the rank-based location test completing the pairwise family: q185
    * compares means (parametric), q186 compares whole distributions
    * (KS), this asks the practitioner's default question "does one
    * segment's `value` stochastically dominate the other's?" robust to
    * outliers and any monotone transform.
    *
    * Same histogram-first scaffold as q186 (one (type, cent) aggregate,
    * broadcast pair fan-out, per-pair cumulative over the cent grid).
    * Exactness: 2×rank-sum and the tie correction Σ(t³−t) are INTEGER;
    * the normal-approximation z with tie-corrected variance
    * σ² = n₁n₂/12·[(n+1) − Σ(t³−t)/(n(n−1))] is assembled from those
    * integers in identical IEEE operand order in both engines.
    */
  private def q242(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tables
      .events(s, d)
      .select($"event_type".as("t"), expr(centsExpr).as("c"))
      .groupBy($"t", $"c")
      .agg(count(lit(1)).as("cnt"))
    val types = hist.select($"t").distinct().as[String].collect().sorted
    require(types.length <= 2048,
      s"q242 pairs over ${types.length} types — event_type is not " +
        "dictionary-sized; the pair fan-out assumes it is")
    val pairs = for { a <- types; b <- types if a < b } yield (a, b)
    val pairsDf = s.createDataFrame(pairs).toDF("ta", "tb")
    val sideA = hist
      .join(broadcast(pairsDf), $"t" === $"ta")
      .select($"ta", $"tb", $"c", $"cnt".as("ca"), lit(0L).as("cb"))
    val sideB = hist
      .join(broadcast(pairsDf), $"t" === $"tb")
      .select($"ta", $"tb", $"c", lit(0L).as("ca"), $"cnt".as("cb"))
    val merged = sideA
      .unionAll(sideB)
      .groupBy($"ta", $"tb", $"c")
      .agg(sum($"ca").as("ca"), sum($"cb").as("cb"))
    val runW = Window.partitionBy($"ta", $"tb").orderBy($"c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    merged
      .withColumn("t2", $"ca" + $"cb")
      .withColumn("cb2", sum($"t2").over(runW) - $"t2")
      .groupBy($"ta", $"tb")
      .agg(
        sum($"ca").as("n_a"),
        sum($"cb").as("n_b"),
        sum($"ca" * (lit(2L) * $"cb2" + $"t2" + 1L)).as("rs2"),
        sum($"t2" * $"t2" * $"t2" - $"t2").as("tie3"),
      )
      .withColumn("u2", $"rs2" - $"n_a" * ($"n_a" + 1L))
      .withColumn("n", $"n_a" + $"n_b")
      // a pair whose every observation shares one value has zero rank
      // variance (tie3 = n³ − n) and the z ratio is 0/0 → NaN, which
      // ANSI/parity handle differently per engine; a fully-tied pair
      // carries no evidence, so define z = 0 identically in both
      .withColumn("z",
        when($"tie3" === ($"n" * $"n" - 1L) * $"n", lit(0.0))
          .otherwise(round(($"u2".cast("double") -
          $"n_a".cast("double") * $"n_b".cast("double")) /
          (lit(2.0) * sqrt(
            ($"n_a".cast("double") * $"n_b".cast("double") / 12.0) *
              (($"n" + 1L).cast("double") -
                $"tie3".cast("double") /
                ($"n".cast("double") * ($"n" - 1L).cast("double"))))),
          6)))
      .select($"ta", $"tb", $"n_a", $"n_b", $"u2", $"tie3", $"z")
      .orderBy($"ta", $"tb")
  }

  private val q242Sql =
    s"""WITH hist AS (
      |  SELECT event_type AS t, $centsExpr AS c, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |types AS (SELECT DISTINCT t FROM hist),
      |pairs AS (
      |  SELECT a.t AS ta, b.t AS tb FROM types a JOIN types b
      |  ON a.t < b.t),
      |merged AS (
      |  SELECT ta, tb, c,
      |    CAST(SUM(ca) AS BIGINT) AS ca, CAST(SUM(cb) AS BIGINT) AS cb
      |  FROM (
      |    SELECT p.ta, p.tb, h.c, h.cnt AS ca, 0 AS cb
      |    FROM hist h JOIN pairs p ON h.t = p.ta
      |    UNION ALL
      |    SELECT p.ta, p.tb, h.c, 0 AS ca, h.cnt AS cb
      |    FROM hist h JOIN pairs p ON h.t = p.tb) u
      |  GROUP BY 1, 2, 3),
      |ranked AS (
      |  SELECT ta, tb, ca, cb, ca + cb AS t2,
      |    SUM(ca + cb) OVER (PARTITION BY ta, tb ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - (ca + cb) AS cb2
      |  FROM merged),
      |agg AS (
      |  SELECT ta, tb, CAST(SUM(ca) AS BIGINT) AS n_a,
      |    CAST(SUM(cb) AS BIGINT) AS n_b,
      |    CAST(SUM(ca * (2 * cb2 + t2 + 1)) AS BIGINT) AS rs2,
      |    CAST(SUM(t2 * t2 * t2 - t2) AS BIGINT) AS tie3
      |  FROM ranked GROUP BY ta, tb)
      |SELECT ta, tb, n_a, n_b,
      |  rs2 - n_a * (n_a + 1) AS u2, tie3,
      |  CASE WHEN tie3 = ((n_a + n_b) * (n_a + n_b) - 1) * (n_a + n_b)
      |  THEN 0.0 ELSE
      |  ROUND((CAST(rs2 - n_a * (n_a + 1) AS DOUBLE) -
      |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) /
      |    (2.0 * SQRT(
      |      (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0) *
      |        (CAST(n_a + n_b + 1 AS DOUBLE) -
      |          CAST(tie3 AS DOUBLE) /
      |          (CAST(n_a + n_b AS DOUBLE) *
      |            CAST(n_a + n_b - 1 AS DOUBLE))))), 6) END AS z
      |FROM agg ORDER BY ta, tb""".stripMargin

  /** q248: EXACT WEIGHTED QUANTILES — per return flag, the price
    * quartiles/p90 where each line item counts `l_quantity` times:
    * "half the UNITS shipped cost less than what?", the
    * inventory-weighted answer q29's row-quantiles can't give. The
    * weighted p-quantile is the smallest price whose cumulative weight
    * reaches p·W — a pure integer definition (cum·100 ≥ p·W, no
    * interpolation, no division), so the oracle matches exactly.
    *
    * Scale: one aggregate to the (flag, cent) weight histogram, then
    * cumulative sums over the price DOMAIN per flag; the quantile picks
    * are conditional MINs in the same domain-sized pass.
    */
  private def q248(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tables
      .lineitem(s, d)
      .select($"l_returnflag".as("flag"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("c"),
        expr("CAST(ROUND(l_quantity) AS BIGINT)").as("w"))
      .groupBy($"flag", $"c")
      .agg(sum($"w").as("w"))
    val runW = Window.partitionBy($"flag").orderBy($"c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.partitionBy($"flag")
    hist
      .withColumn("cum", sum($"w").over(runW))
      .withColumn("tw", sum($"w").over(allW))
      .groupBy($"flag")
      .agg(
        max($"tw").as("total_weight"),
        min(when($"cum" * 100L >= lit(25L) * $"tw", $"c")).as("wp25"),
        min(when($"cum" * 100L >= lit(50L) * $"tw", $"c")).as("wp50"),
        min(when($"cum" * 100L >= lit(75L) * $"tw", $"c")).as("wp75"),
        min(when($"cum" * 100L >= lit(90L) * $"tw", $"c")).as("wp90"),
      )
      .orderBy($"flag")
  }

  private val q248Sql =
    """WITH hist AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c,
      |    CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |cum AS (
      |  SELECT flag, c,
      |    SUM(w) OVER (PARTITION BY flag ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(w) OVER (PARTITION BY flag) AS tw
      |  FROM hist)
      |SELECT flag, CAST(MAX(tw) AS BIGINT) AS total_weight,
      |  MIN(CASE WHEN cum * 100 >= 25 * tw THEN c END) AS wp25,
      |  MIN(CASE WHEN cum * 100 >= 50 * tw THEN c END) AS wp50,
      |  MIN(CASE WHEN cum * 100 >= 75 * tw THEN c END) AS wp75,
      |  MIN(CASE WHEN cum * 100 >= 90 * tw THEN c END) AS wp90
      |FROM cum GROUP BY flag ORDER BY flag""".stripMargin

  /** q244: EXACT SHAPLEY CHANNEL ATTRIBUTION — the game-theoretic
    * answer to "which touchpoints deserve credit for conversions",
    * completing the attribution family (q193 last-touch is positional,
    * q215 Markov removal-effect is model-based; Shapley is the unique
    * split satisfying efficiency/symmetry/additivity). The game: a
    * coalition S of channels is worth v(S) = conversions among users
    * whose pre-purchase touch set ⊆ S (the standard monotone
    * order-free valuation); φ_i averages i's marginal contribution
    * v(S∪i) − v(S) over all orderings.
    *
    * Everything is INTEGER-EXACT: with k = 4 channels the weights
    * |S|!·(k−1−|S|)! are the literals 6/2/2/6 and φ_i is reported
    * scaled by k! = 24 (`phi24`), so both engines agree bit-for-bit;
    * the float `phi` derives from it once. Scale: ONE user-grain pass
    * builds each user's channel bitmask; everything after runs on the
    * ≤ 2^k-row coalition table (broadcast joins over a 16-row dim) —
    * the exponential lives in the CHANNEL count (a schema constant,
    * guarded), never in rows. Σφ_i = v(full) − v(∅) (efficiency) is
    * spec-asserted in Round13Spec.
    */
  private def q244(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val channels = Seq("click", "error", "signup", "view")
    val ev = Tables.events(s, d)
    val seen = ev.select($"event_type").distinct().as[String].collect()
    require(seen.toSet.subsetOf((channels :+ "purchase").toSet),
      s"q244's channel game is defined over $channels + purchase; " +
        s"saw ${seen.mkString(",")}")
    val bitExpr = // canonical alphabetical bit order, a schema constant
      "CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 " +
        "WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END"
    val fp = ev
      .filter($"event_type" === "purchase")
      .groupBy($"user_id")
      .agg(min(unix_micros($"ts")).as("pus"))
    val users = ev.select($"user_id").distinct()
    val masks = ev
      .join(fp, Seq("user_id"), "left")
      .filter($"event_type" =!= "purchase" &&
        ($"pus".isNull || unix_micros($"ts") < $"pus"))
      .select($"user_id", expr(bitExpr).as("bit"))
      .distinct()
      .groupBy($"user_id")
      .agg(sum($"bit").as("mask"))
    val conv = users
      .join(masks, Seq("user_id"), "left")
      .join(fp.select($"user_id", lit(1L).as("cv")),
        Seq("user_id"), "left")
      .select(coalesce($"mask", lit(0L)).as("t"),
        coalesce($"cv", lit(0L)).as("cv"))
      .groupBy($"t")
      .agg(sum($"cv").as("conv"))
    val coalitions = s.range(0, 16).select($"id".as("s"))
    val v = coalitions
      .join(conv, expr("(t & s) = t"))
      .groupBy($"s")
      .agg(sum($"conv").as("v"))
    val chanDim = s
      .createDataFrame(channels.zipWithIndex.map { case (c, i) =>
        (c, 1L << i)
      })
      .toDF("channel", "bit")
    // |S|!·(k−1−|S|)! for k = 4: 0→6, 1→2, 2→2, 3→6
    val wExpr = "CASE bit_count(s) WHEN 0 THEN 6 WHEN 1 THEN 2 " +
      "WHEN 2 THEN 2 ELSE 6 END"
    val without = v.select($"s", $"v")
    val withI = v.select($"s".as("si"), $"v".as("vi"))
    broadcast(chanDim)
      .join(without, expr("(s & bit) = 0"))
      .join(withI, expr("si = s + bit"))
      .withColumn("w", expr(wExpr).cast("long"))
      .groupBy($"channel")
      .agg(sum($"w" * ($"vi" - $"v")).as("phi24"))
      .withColumn("phi", round($"phi24".cast("double") / 24.0, 6))
      .orderBy($"channel")
  }

  private val q244Sql =
    """WITH fp AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS pus FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1),
      |users AS (SELECT DISTINCT user_id FROM events),
      |masks AS (
      |  SELECT user_id, CAST(SUM(bit) AS BIGINT) AS mask FROM (
      |    SELECT DISTINCT e.user_id,
      |      CASE e.event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
      |        WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END AS bit
      |    FROM events e LEFT JOIN fp ON e.user_id = fp.user_id
      |    WHERE e.event_type <> 'purchase'
      |      AND (fp.pus IS NULL OR epoch_us(e.ts) < fp.pus)) b
      |  GROUP BY 1),
      |conv AS (
      |  SELECT COALESCE(m.mask, 0) AS t,
      |    CAST(SUM(CASE WHEN fp.user_id IS NULL THEN 0 ELSE 1 END)
      |      AS BIGINT) AS conv
      |  FROM users u LEFT JOIN masks m ON u.user_id = m.user_id
      |  LEFT JOIN fp ON u.user_id = fp.user_id
      |  GROUP BY 1),
      |v AS (
      |  SELECT r.s, CAST(SUM(c.conv) AS BIGINT) AS v
      |  FROM range(0, 16) r(s) JOIN conv c ON (c.t & r.s) = c.t
      |  GROUP BY 1),
      |chan AS (
      |  SELECT * FROM (VALUES ('click', 1), ('error', 2),
      |    ('signup', 4), ('view', 8)) AS t(channel, bit))
      |SELECT channel,
      |  CAST(SUM((CASE bit_count(wo.s) WHEN 0 THEN 6 WHEN 1 THEN 2
      |    WHEN 2 THEN 2 ELSE 6 END) * (wi.v - wo.v)) AS BIGINT)
      |    AS phi24,
      |  ROUND(CAST(SUM((CASE bit_count(wo.s) WHEN 0 THEN 6
      |    WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END) * (wi.v - wo.v))
      |    AS DOUBLE) / 24.0, 6) AS phi
      |FROM chan JOIN v wo ON (wo.s & chan.bit) = 0
      |JOIN v wi ON wi.s = wo.s + chan.bit
      |GROUP BY channel ORDER BY channel""".stripMargin

  /** q245: LOG-RANK TEST — "do the two variants convert at the same
    * RATE over time?", the survival-curve companion to q233's
    * Kaplan–Meier estimate and the censoring-aware upgrade of q213's
    * conversion-lag readout: a late-peeking mean lag ignores users who
    * haven't converted yet; the log-rank statistic compares the full
    * hazard over the risk sets. Clock starts at each user's first
    * event; death = first purchase; users without one are censored at
    * their last event.
    *
    * Shape: one user-grain pass to (group, duration, death) rows, then
    * everything runs on the duration-histogram × death-time grid (user
    * cardinality, never events). Per-time terms d₁ − d·n₁/n and the
    * hypergeometric variance are each rounded to 1e-6 fixed-point and
    * INTEGER-summed (the q195 device — float sums across rows are
    * fold-order-sensitive); the final χ² derives from the two micro
    * totals in identical operand order.
    */
  private def q245(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perUser = Tables
      .events(s, d)
      .groupBy($"user_id")
      .agg(
        min(unix_micros($"ts")).as("fus"),
        min(when($"event_type" === "purchase", unix_micros($"ts")))
          .as("pus"),
        max(unix_micros($"ts")).as("lus"),
      )
      .select(($"user_id" % 2).as("g"),
        expr("(coalesce(pus, lus) - fus) DIV 1000000").as("dur"),
        $"pus".isNotNull.cast("long").as("death"))
    val hist = perUser
      .groupBy($"g", $"dur")
      .agg(count(lit(1)).as("n_obs"), sum($"death").as("n_death"))
    val grid = hist
      .filter($"n_death" > 0L)
      .select($"dur".as("tau"))
      .distinct()
    val risk = grid
      .join(hist, hist("dur") >= grid("tau"))
      .groupBy($"tau")
      .agg(
        sum(when($"g" === 1L, $"n_obs").otherwise(0L)).as("n1"),
        sum(when($"g" === 0L, $"n_obs").otherwise(0L)).as("n0"),
        sum(when($"g" === 1L && $"dur" === $"tau", $"n_death")
          .otherwise(0L)).as("d1"),
        sum(when($"g" === 0L && $"dur" === $"tau", $"n_death")
          .otherwise(0L)).as("d0"),
      )
    val terms = risk
      .withColumn("n", $"n1" + $"n0")
      .withColumn("dd", $"d1" + $"d0")
      .withColumn("oe_micro",
        expr("CAST(ROUND((CAST(d1 AS DOUBLE) - CAST(dd AS DOUBLE) * " +
          "CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000) " +
          "AS BIGINT)"))
      .withColumn("var_micro",
        expr("CASE WHEN n > 1 THEN CAST(ROUND((CAST(dd AS DOUBLE) * " +
          "CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) * " +
          "CAST(n - dd AS DOUBLE)) / (CAST(n AS DOUBLE) * " +
          "CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) * 1000000) " +
          "AS BIGINT) ELSE 0 END"))
    val users = perUser
      .groupBy()
      .agg(
        sum(when($"g" === 1L, 1L).otherwise(0L)).as("n1_users"),
        sum(when($"g" === 0L, 1L).otherwise(0L)).as("n0_users"),
        sum(when($"g" === 1L, $"death").otherwise(0L)).as("d1_total"),
        sum(when($"g" === 0L, $"death").otherwise(0L)).as("d0_total"),
      )
    terms
      .groupBy()
      .agg(sum($"oe_micro").as("oe_micro"),
        sum($"var_micro").as("var_micro"))
      .crossJoin(users)
      // zero pooled variance (e.g. one arm empty at every death time)
      // makes chi2 a 0/0 — carries no evidence, so define it 0 in
      // both engines rather than let NaN/Inf diverge across them
      .withColumn("chi2",
        when($"var_micro" === 0L, lit(0.0)).otherwise(
          round((($"oe_micro".cast("double") / 1000000.0) *
            ($"oe_micro".cast("double") / 1000000.0)) /
            ($"var_micro".cast("double") / 1000000.0), 6)))
      .select($"n1_users", $"n0_users", $"d1_total", $"d0_total",
        $"oe_micro", $"var_micro", $"chi2")
  }

  private val q245Sql =
    """WITH per_user AS (
      |  SELECT user_id % 2 AS g,
      |    (COALESCE(MIN(CASE WHEN event_type = 'purchase'
      |        THEN epoch_us(ts) END), MAX(epoch_us(ts)))
      |      - MIN(epoch_us(ts))) // 1000000 AS dur,
      |    CASE WHEN MIN(CASE WHEN event_type = 'purchase'
      |      THEN epoch_us(ts) END) IS NULL THEN 0 ELSE 1 END AS death
      |  FROM events GROUP BY user_id),
      |hist AS (
      |  SELECT g, dur, COUNT(*) AS n_obs,
      |    CAST(SUM(death) AS BIGINT) AS n_death
      |  FROM per_user GROUP BY 1, 2),
      |grid AS (SELECT DISTINCT dur AS tau FROM hist WHERE n_death > 0),
      |risk AS (
      |  SELECT tau,
      |    CAST(SUM(CASE WHEN g = 1 THEN n_obs ELSE 0 END) AS BIGINT)
      |      AS n1,
      |    CAST(SUM(CASE WHEN g = 0 THEN n_obs ELSE 0 END) AS BIGINT)
      |      AS n0,
      |    CAST(SUM(CASE WHEN g = 1 AND dur = tau THEN n_death
      |      ELSE 0 END) AS BIGINT) AS d1,
      |    CAST(SUM(CASE WHEN g = 0 AND dur = tau THEN n_death
      |      ELSE 0 END) AS BIGINT) AS d0
      |  FROM grid JOIN hist ON hist.dur >= grid.tau
      |  GROUP BY tau),
      |terms AS (
      |  SELECT
      |    CAST(ROUND((CAST(d1 AS DOUBLE) - CAST(d1 + d0 AS DOUBLE) *
      |      CAST(n1 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE)) * 1000000)
      |      AS BIGINT) AS oe_micro,
      |    CASE WHEN n1 + n0 > 1 THEN CAST(ROUND(
      |      (CAST(d1 + d0 AS DOUBLE) * CAST(n1 AS DOUBLE) *
      |       CAST(n0 AS DOUBLE) *
      |       CAST(n1 + n0 - (d1 + d0) AS DOUBLE)) /
      |      (CAST(n1 + n0 AS DOUBLE) * CAST(n1 + n0 AS DOUBLE) *
      |       CAST(n1 + n0 - 1 AS DOUBLE)) * 1000000) AS BIGINT)
      |      ELSE 0 END AS var_micro
      |  FROM risk),
      |tot AS (
      |  SELECT CAST(SUM(oe_micro) AS BIGINT) AS oe_micro,
      |    CAST(SUM(var_micro) AS BIGINT) AS var_micro FROM terms),
      |users AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n1_users,
      |    CAST(SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n0_users,
      |    CAST(SUM(CASE WHEN g = 1 THEN death ELSE 0 END) AS BIGINT)
      |      AS d1_total,
      |    CAST(SUM(CASE WHEN g = 0 THEN death ELSE 0 END) AS BIGINT)
      |      AS d0_total
      |  FROM per_user)
      |SELECT n1_users, n0_users, d1_total, d0_total, oe_micro,
      |  var_micro,
      |  CASE WHEN var_micro = 0 THEN 0.0 ELSE
      |  ROUND(((CAST(oe_micro AS DOUBLE) / 1000000.0) *
      |    (CAST(oe_micro AS DOUBLE) / 1000000.0)) /
      |    (CAST(var_micro AS DOUBLE) / 1000000.0), 6) END AS chi2
      |FROM tot, users""".stripMargin

  /** q246: POPULATION STABILITY INDEX — the model-monitoring drift
    * score every deployed scorer is watched with: per event type, how
    * far has the `value` distribution moved from the launch window
    * (first half of the calendar, q194's cut) to the current one?
    * PSI = Σ_bins (p_ref − p_cur)·ln(p_ref/p_cur) over fixed 5-unit
    * bands with add-one smoothing across the bands OBSERVED for that
    * type (so empty-side bins contribute finitely). Rule-of-thumb
    * thresholds (0.1 drifting / 0.25 action) ride on the same scale.
    *
    * Differs from q205 (KL between type profiles at one time) in both
    * axes — PSI is symmetric-in-form, time-sliced, and banded the way
    * score monitoring actually bins. Exactness: counts and totals are
    * integers from one grouped pass; each bin's term is built in
    * identical IEEE order (ln of a ratio of integer products — one of
    * the correctly-rounded primitives), rounded to 1e-9 fixed-point,
    * and INTEGER-summed (q195's device).
    */
  /** q246's reference-window cut (2024-01-16T00:00:00Z, q194's). */
  private[graft] val psiCutUs = 1705363200000000L

  private def q246(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val binned = Tables
      .events(s, d)
      .select($"event_type", expr(s"$centsExpr DIV 500").as("bin"),
        (unix_micros($"ts") < psiCutUs).as("ref"))
      .groupBy($"event_type", $"bin")
      .agg(
        sum(when($"ref", 1L).otherwise(0L)).as("a"),
        sum(when(!$"ref", 1L).otherwise(0L)).as("b"),
      )
    psiFromBinned(binned)
  }

  /** q246's PSI arithmetic over any (event_type, bin, a, b) histogram —
    * ONE implementation shared by the batch query and the streaming
    * monitor's read side (q276), so the two paths cannot drift: the
    * stream emits histogram snapshots, never floats, and every ln runs
    * through this exact plan.
    */
  private[graft] def psiFromBinned(binned: DataFrame): DataFrame = {
    import binned.sparkSession.implicits._
    val part = Window.partitionBy($"event_type")
    val terms = binned
      .withColumn("nb", count(lit(1)).over(part))
      .withColumn("na_tot", sum($"a").over(part))
      .withColumn("nb_tot", sum($"b").over(part))
      .withColumn("term_nano",
        expr("CAST(ROUND((CAST(a + 1 AS DOUBLE) / " +
          "CAST(na_tot + nb AS DOUBLE) - CAST(b + 1 AS DOUBLE) / " +
          "CAST(nb_tot + nb AS DOUBLE)) * " +
          "LN(CAST(a + 1 AS DOUBLE) * CAST(nb_tot + nb AS DOUBLE) / " +
          "(CAST(b + 1 AS DOUBLE) * CAST(na_tot + nb AS DOUBLE))) * " +
          "1000000000) AS BIGINT)"))
    terms
      .groupBy($"event_type")
      .agg(
        max($"nb").as("n_bins"),
        max($"na_tot").as("n_ref"),
        max($"nb_tot").as("n_cur"),
        sum($"term_nano").as("psi_nano"),
      )
      .withColumn("psi",
        round($"psi_nano".cast("double") / 1000000000.0, 6))
      .orderBy($"event_type")
  }

  private val q246Sql =
    s"""WITH binned AS (
      |  SELECT event_type, $centsExpr // 500 AS bin,
      |    CAST(SUM(CASE WHEN epoch_us(ts) < 1705363200000000
      |      THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(SUM(CASE WHEN epoch_us(ts) >= 1705363200000000
      |      THEN 1 ELSE 0 END) AS BIGINT) AS b
      |  FROM events GROUP BY 1, 2),
      |terms AS (
      |  SELECT event_type,
      |    COUNT(*) OVER (PARTITION BY event_type) AS nb,
      |    SUM(a) OVER (PARTITION BY event_type) AS na_tot,
      |    SUM(b) OVER (PARTITION BY event_type) AS nb_tot,
      |    a, b
      |  FROM binned),
      |nano AS (
      |  SELECT event_type, nb, na_tot, nb_tot,
      |    CAST(ROUND((CAST(a + 1 AS DOUBLE) /
      |      CAST(na_tot + nb AS DOUBLE) - CAST(b + 1 AS DOUBLE) /
      |      CAST(nb_tot + nb AS DOUBLE)) *
      |      LN(CAST(a + 1 AS DOUBLE) * CAST(nb_tot + nb AS DOUBLE) /
      |      (CAST(b + 1 AS DOUBLE) * CAST(na_tot + nb AS DOUBLE))) *
      |      1000000000) AS BIGINT) AS term_nano
      |  FROM terms)
      |SELECT event_type, CAST(MAX(nb) AS BIGINT) AS n_bins,
      |  CAST(MAX(na_tot) AS BIGINT) AS n_ref,
      |  CAST(MAX(nb_tot) AS BIGINT) AS n_cur,
      |  CAST(SUM(term_nano) AS BIGINT) AS psi_nano,
      |  ROUND(CAST(SUM(term_nano) AS DOUBLE) / 1000000000.0, 6) AS psi
      |FROM nano GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q247: ISOTONIC CALIBRATION (PAVA fit) — "when the score says 80,
    * how often is it actually a purchase?": the monotone regression of
    * purchase rate on score band, the calibration step between q240's
    * ranking quality and using a score as a probability. Computed by
    * the minimax characterization g(b) = max_{i≤b} min_{j≥b}
    * mean(k_i..k_j / n_i..n_j) — equivalent to the sequential
    * pool-adjacent-violators fit (Round13Spec proves them equal) but
    * expressible as windows over the band table, hence identically
    * replayable in the oracle.
    *
    * Exactness device: interval means are RATIONALS kk/nn compared via
    * the integer order key kk·2⁴⁰ DIV nn — exact total order because
    * distinct rationals with denominators ≤ N differ by ≥ 1/N² > 2⁻⁴⁰,
    * so min/max over keys ≡ min/max over rationals with no float
    * compare anywhere. The bound is CONDITIONAL on N < 2²⁰ rows per
    * fit — an in-plan raise_error guard on cum_n enforces it loudly
    * (band tables are score-domain, so real fits sit far below it),
    * and the kk·2⁴⁰ multiply runs in DECIMAL(38,0)/HUGEINT so the key
    * computation itself cannot overflow BIGINT. Scale: the event-cardinality work is ONE
    * aggregate to ≤ few-hundred score bands; the O(B²) interval table
    * and its two windows live entirely in band-domain (q203's
    * discipline). The fitted rate is decoded from the key once.
    */
  /** The minimax isotonic fit over any (b, n, k) band table — factored
    * from q247 so Round13Spec can drive the SPARK plan (not a driver
    * re-derivation) with randomized bands against textbook PAVA.
    */
  private[graft] def isotonicFit(bins: DataFrame): DataFrame = {
    val runW = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = bins
      // the 2⁴⁰ key is an exact total order only while total N < 2²⁰
      // (1/N² > 2⁻⁴⁰): enforce the bound loudly instead of silently
      // mis-ordering past it. cum_n is monotone, so guarding every
      // cumulative value guards the total; riding on cum_n keeps the
      // guard un-prunable (it feeds the key).
      .withColumn("cum_n",
        sum(col("n")).over(runW) +
          when(sum(col("n")).over(runW) >= (1L << 20),
            raise_error(lit("isotonicFit: > 2^20 rows per fit — " +
              "the 2^40 rational order key is no longer exact")))
            .otherwise(lit(0L)))
      .withColumn("cum_k", sum(col("k")).over(runW))
      .withColumn("prev_n", col("cum_n") - col("n"))
      .withColumn("prev_k", col("cum_k") - col("k"))
    val lo = pre.select(col("b").as("i"), col("prev_n"), col("prev_k"))
    val hi = pre.select(col("b").as("j"), col("cum_n"), col("cum_k"))
    // the interval-k × 2⁴⁰ multiply lives in DECIMAL(38,0) (HUGEINT in
    // the oracle) so it cannot overflow BIGINT for any k the guard
    // admits — or, at a raised shift, for any realistic k at all
    val pairKey = lo
      .join(hi, col("i") <= col("j"))
      .select(col("i"), col("j"),
        expr("CAST(cum_k - prev_k AS DECIMAL(38,0)) * 1099511627776 " +
          "DIV (cum_n - prev_n)")
          .as("key"))
    val sufW = Window.partitionBy(col("i")).orderBy(col("j").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fit = pairKey
      .withColumn("m", min(col("key")).over(sufW))
      .groupBy(col("j"))
      .agg(max(col("m")).as("g_key"))
    bins
      .join(fit, col("b") === col("j"))
      .select(col("b"), col("n"), col("k"),
        round(col("k").cast("double") / col("n").cast("double"), 6)
          .as("raw_rate"),
        round(col("g_key").cast("double") / 1099511627776.0, 6)
          .as("iso_rate"))
      .orderBy(col("b"))
  }

  private def q247(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    isotonicFit(
      Tables
        .events(s, d)
        .select(expr(s"$centsExpr DIV 100").as("b"),
          when($"event_type" === "purchase", 1L).otherwise(0L).as("p"))
        .groupBy($"b")
        .agg(count(lit(1)).as("n"), sum($"p").as("k")))
  }

  private val q247Sql =
    s"""WITH bins AS (
      |  SELECT $centsExpr // 100 AS b, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS k
      |  FROM events GROUP BY 1),
      |pre AS (
      |  SELECT b, n, k,
      |    SUM(n) OVER (ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
      |    SUM(k) OVER (ORDER BY b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_k
      |  FROM bins),
      |pairs AS (
      |  SELECT lo.b AS i, hi.b AS j,
      |    CAST(hi.cum_k - (lo.cum_k - lo.k) AS HUGEINT)
      |      * 1099511627776 //
      |      (hi.cum_n - (lo.cum_n - lo.n)) AS key
      |  FROM pre lo JOIN pre hi ON lo.b <= hi.b),
      |suffix AS (
      |  SELECT i, j,
      |    MIN(key) OVER (PARTITION BY i ORDER BY j DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
      |  FROM pairs),
      |fit AS (SELECT j, MAX(m) AS g_key FROM suffix GROUP BY j)
      |SELECT b, n, k,
      |  ROUND(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS raw_rate,
      |  ROUND(CAST(g_key AS DOUBLE) / 1099511627776.0, 6) AS iso_rate
      |FROM bins JOIN fit ON bins.b = fit.j
      |ORDER BY b""".stripMargin

  /** q243: BENJAMINI–HOCHBERG FDR CONTROL — the multiple-testing layer
    * the inference family was missing: q185/q234 hand back one p-value
    * per metric, but a readout dashboard tests MANY metrics at once and
    * naive per-test thresholds multiply false positives. The family
    * here: for each event type, "does its mean `value` differ from the
    * complement's?" with the null built by multinomial LABEL
    * REASSIGNMENT — 64 replicates, each event re-labeled by an md5
    * inverse-CDF draw over the observed type frequencies (q192's
    * deterministic-noise device: identical draws in both engines, no
    * `rand()`), p = (1 + #exceed)/(R + 1). BH step-up then rejects the
    * k̂ smallest p's where k̂ = max{k : p₍ₖ₎ ≤ kα/m}.
    *
    * Nothing divides: the exceedance compare cross-multiplies in
    * DECIMAL(38,0)/HUGEINT (q234's device) and the BH inequality
    * p₍ₖ₎ ≤ kα/m clears denominators into 20·p_num ≤ 65·k (α = 1/4,
    * m = 5, R + 1 = 65) — the whole operator is integer-decided.
    * Scale: one (event × R) fan-out collapsing straight into the
    * (rep, pseudo-type) partial aggregate — the only superlinear pass,
    * map-side combinable; the step-up runs on m rows.
    */
  private def q243(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val reps = 64
    val ev = Tables
      .events(s, d)
      .select($"event_id", $"event_type", expr(centsExpr).as("c"))
    val freqs = ev
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_t"), sum($"c").as("s_t"))
    val fw = Window.orderBy($"event_type")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    // half-open u32 intervals [lo, hi) per type from the cumulative
    // frequency CDF: hi of the last type is exactly 2^32 ≥ any draw
    val intervals = freqs
      .withColumn("cum", sum($"n_t").over(fw))
      .withColumn("n", sum($"n_t").over(tot))
      .withColumn("s", sum($"s_t").over(tot))
      .withColumn("hi", expr("cum * 4294967296 DIV n"))
      .withColumn("lo", expr("(cum - n_t) * 4294967296 DIV n"))
    // value-identical to the spelled-out Σ hexdigit(h[i])·16^(8−i) the
    // oracle uses (and this site used through r20): the first 8 hex
    // digits of h read as one base-16 number. `conv` is a single
    // codegen'd call where the per-digit spelling paid 8 substr
    // allocations + 8 constant-scans PER ROW — and this expression runs
    // on the ×64 fan, the hottest row count in the suite (r21, guide
    // §1.2 per-task work). The DuckDB oracle keeps the digit-sum
    // spelling, so the identity is oracle-gated.
    val u32 = "CAST(conv(substr(h, 1, 8), 16, 10) AS BIGINT)"
    // the corpus arrives as ONE small file at test SF — without an
    // explicit spread the ×64 fan, the md5s, and the CDF assignment all
    // run on its single input split (38 s measured). The partition
    // count is EXPLICIT because the pre-fan rows are tiny: AQE sizes
    // coalescing on the shuffled bytes (~MBs) and would collapse an
    // adjustable exchange back to one partition, putting the ×64
    // explode downstream of it on one core again. At real scale the
    // scan has many splits and this exchange is load-balancing
    // insurance, not a new cost class.
    val fan = ev
      .repartition(ev.sparkSession.sparkContext.defaultParallelism,
        col("event_id"))
      .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("h",
        md5(concat($"event_id".cast("string"), lit(":"),
          $"rep".cast("string"), lit(":bh")).cast("binary")))
      .withColumn("u", expr(u32))
      .join(broadcast(intervals.select($"event_type".as("ptype"),
        $"lo", $"hi")), $"u" >= $"lo" && $"u" < $"hi")
      .groupBy($"rep", $"ptype")
      .agg(count(lit(1)).as("na"), sum($"c").as("sa"))
    // A replicate that assigns ZERO events to a type produces no
    // (rep, ptype) row in `fan` at all — without the explicit grid it
    // would silently drop out of n_exceed instead of counting as an
    // exceedance (na = 0 is a maximal deviation), biasing p-values low
    // for rare types. Left-join the full reps × |types| grid so the
    // na === 0 branch of `exceed` is actually reachable.
    val grid = intervals
      .select($"event_type".as("ptype"))
      .withColumn("rep", explode(sequence(lit(0), lit(reps - 1))))
    val fanFull = grid
      .join(fan, Seq("rep", "ptype"), "left")
      .na.fill(0L, Seq("na", "sa"))
    val dec = "decimal(38,0)"
    val pvals = fanFull
      .join(broadcast(intervals.select($"event_type".as("ptype"),
        $"n_t".as("na0"), $"s_t".as("sa0"), $"n", $"s")), Seq("ptype"))
      .withColumn("exceed",
        $"na" === 0L || $"na" === $"n" ||
          abs($"sa".cast(dec) * ($"n" - $"na").cast(dec) -
            ($"s" - $"sa").cast(dec) * $"na".cast(dec)) *
          ($"na0".cast(dec) * ($"n" - $"na0").cast(dec)) >=
          abs($"sa0".cast(dec) * ($"n" - $"na0").cast(dec) -
            ($"s" - $"sa0").cast(dec) * $"na0".cast(dec)) *
          ($"na".cast(dec) * ($"n" - $"na").cast(dec)))
      .groupBy($"ptype")
      .agg(sum(when($"exceed", 1L).otherwise(0L)).as("n_exceed"))
      .withColumn("p_num", $"n_exceed" + 1L)
    // 20·p_num ≤ 65·k is BH at q = 0.25 with m = 5 HARD-CODED
    // (p/65 ≤ (k/5)·0.25): fail loudly if the type dictionary ever
    // grows, instead of silently testing at the wrong level. The
    // guard rides on `k` so column pruning can't drop it.
    val ranked = pvals
      .withColumn("k",
        row_number().over(Window.orderBy($"p_num", $"ptype"))
          .cast("long") +
          when(count(lit(1)).over(tot) =!= 5L,
            raise_error(lit(
              "q243: BH constants hard-code m=5 event types")))
            .otherwise(lit(0L)))
      .withColumn("pass", lit(20L) * $"p_num" <= lit(65L) * $"k")
    ranked
      .withColumn("kmax",
        max(when($"pass", $"k").otherwise(0L)).over(tot))
      .select($"ptype".as("event_type"), $"n_exceed", $"p_num",
        expr("p_num * 1000 DIV 65").as("p_milli"), $"k",
        ($"k" <= $"kmax").as("rejected"))
      .orderBy($"k")
  }

  private val q243Sql = {
    val u32 = (1 to 8)
      .map(i =>
        s"(instr('0123456789abcdef', substr(h, $i, 1)) - 1) * " +
          s"${math.pow(16, 8 - i).toLong}")
      .mkString(" + ")
    s"""WITH ev AS (
      |  SELECT event_id, event_type, $centsExpr AS c FROM events),
      |freqs AS (
      |  SELECT event_type, COUNT(*) AS n_t,
      |    CAST(SUM(c) AS BIGINT) AS s_t
      |  FROM ev GROUP BY 1),
      |intervals AS (
      |  SELECT event_type, n_t, s_t,
      |    SUM(n_t) OVER () AS n, SUM(s_t) OVER () AS s,
      |    (SUM(n_t) OVER (ORDER BY event_type
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_t)
      |      * 4294967296 // SUM(n_t) OVER () AS lo,
      |    SUM(n_t) OVER (ORDER BY event_type
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      * 4294967296 // SUM(n_t) OVER () AS hi
      |  FROM freqs),
      |hashed AS (
      |  SELECT ev.c, r.rep,
      |    md5(CAST(ev.event_id AS VARCHAR) || ':' ||
      |      CAST(r.rep AS VARCHAR) || ':bh') AS h
      |  FROM ev, range(0, 64) r(rep)),
      |fan0 AS (
      |  SELECT i.event_type AS ptype, hashed.rep,
      |    COUNT(*) AS na, CAST(SUM(hashed.c) AS BIGINT) AS sa
      |  FROM (SELECT c, rep, $u32 AS u FROM hashed) hashed
      |  JOIN intervals i ON hashed.u >= i.lo AND hashed.u < i.hi
      |  GROUP BY 1, 2),
      |fan AS (
      |  SELECT g.ptype, g.rep,
      |    CAST(COALESCE(f.na, 0) AS BIGINT) AS na,
      |    CAST(COALESCE(f.sa, 0) AS BIGINT) AS sa
      |  FROM (SELECT event_type AS ptype, r.rep
      |        FROM freqs, range(0, 64) r(rep)) g
      |  LEFT JOIN fan0 f ON f.ptype = g.ptype AND f.rep = g.rep),
      |cmp AS (
      |  SELECT f.ptype,
      |    (f.na = 0 OR f.na = i.n OR
      |     ABS(CAST(f.sa AS HUGEINT) * (i.n - f.na) -
      |         CAST(i.s - f.sa AS HUGEINT) * f.na) *
      |       (CAST(i.n_t AS HUGEINT) * (i.n - i.n_t)) >=
      |     ABS(CAST(i.s_t AS HUGEINT) * (i.n - i.n_t) -
      |         CAST(i.s - i.s_t AS HUGEINT) * i.n_t) *
      |       (CAST(f.na AS HUGEINT) * (i.n - f.na))) AS exceed
      |  FROM fan f JOIN intervals i ON i.event_type = f.ptype),
      |pvals AS (
      |  SELECT ptype,
      |    CAST(SUM(CASE WHEN exceed THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_exceed,
      |    CAST(SUM(CASE WHEN exceed THEN 1 ELSE 0 END) + 1 AS BIGINT)
      |      AS p_num
      |  FROM cmp GROUP BY 1),
      |ranked AS (
      |  SELECT ptype, n_exceed, p_num,
      |    CAST(ROW_NUMBER() OVER (ORDER BY p_num, ptype) AS BIGINT)
      |      AS k
      |  FROM pvals),
      |flagged AS (
      |  SELECT *, 20 * p_num <= 65 * k AS pass FROM ranked)
      |SELECT ptype AS event_type, n_exceed, p_num,
      |  p_num * 1000 // 65 AS p_milli, k,
      |  k <= MAX(CASE WHEN pass THEN k ELSE 0 END) OVER () AS rejected
      |FROM flagged ORDER BY k""".stripMargin
  }

  /** q250: DIFFERENCE-IN-DIFFERENCES with CLUSTER-ROBUST uncertainty —
    * the workhorse causal estimator when treatment wasn't randomized:
    * treated users' pre→post change minus the control users' change
    * cancels both the group's level difference and the common time
    * trend. Cells are (treatment = user_id parity, period = q194's
    * calendar cut); the standard error clusters by USER via q217's
    * expanded-square device — Var(S/N) needs Σ per-user (sᵤ − r·nᵤ)²,
    * which float-sums across rows, so it is decomposed into the integer
    * sufficient statistics (Σsᵤ², Σsᵤnᵤ, Σnᵤ²) per cell and assembled
    * in identical IEEE order at the end. Two passes: user×period grain,
    * then a 4-cell conditional aggregate — nothing event-sized leaves
    * the first exchange.
    */
  private def q250(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cutUs = 1705363200000000L
    val byUser = Tables
      .events(s, d)
      .select($"user_id", (unix_micros($"ts") >= cutUs).as("post"),
        expr(centsExpr).as("c"))
      .groupBy($"user_id", $"post")
      .agg(count(lit(1)).as("nu"), sum($"c").as("su"))
      .select(($"user_id" % 2 === 1L).as("treat"), $"post", $"nu",
        $"su", ($"su" * $"su").as("suu"), ($"su" * $"nu").as("sun"),
        ($"nu" * $"nu").as("nuu"))
    def cell(t: Boolean, p: Boolean, col: String, as: String) =
      sum(when($"treat" === t && $"post" === p, expr(col))
        .otherwise(0L)).as(as)
    val cells = byUser
      .groupBy()
      .agg(
        cell(true, true, "nu", "n11"), cell(true, true, "su", "s11"),
        cell(true, true, "suu", "xx11"), cell(true, true, "sun", "xn11"),
        cell(true, true, "nuu", "nn11"),
        cell(true, false, "nu", "n10"), cell(true, false, "su", "s10"),
        cell(true, false, "suu", "xx10"),
        cell(true, false, "sun", "xn10"),
        cell(true, false, "nuu", "nn10"),
        cell(false, true, "nu", "n01"), cell(false, true, "su", "s01"),
        cell(false, true, "suu", "xx01"),
        cell(false, true, "sun", "xn01"),
        cell(false, true, "nuu", "nn01"),
        cell(false, false, "nu", "n00"), cell(false, false, "su", "s00"),
        cell(false, false, "suu", "xx00"),
        cell(false, false, "sun", "xn00"),
        cell(false, false, "nuu", "nn00"),
      )
    val mv = Seq("11", "10", "01", "00")
      .map { c =>
        val r = s"CAST(s$c AS DOUBLE) / CAST(n$c AS DOUBLE)"
        val vv = s"(CAST(xx$c AS DOUBLE) - 2.0 * ($r) * " +
          s"CAST(xn$c AS DOUBLE) + ($r) * ($r) * " +
          s"CAST(nn$c AS DOUBLE)) / " +
          s"(CAST(n$c AS DOUBLE) * CAST(n$c AS DOUBLE))"
        (c, r, vv)
      }
    val Seq(e11, e10, e01, e00) = mv.map(_._2)
    val Seq(v11, v10, v01, v00) = mv.map(_._3)
    val didExpr = s"(($e11) - ($e10)) - (($e01) - ($e00))"
    val seExpr = s"SQRT(($v11) + ($v10) + ($v01) + ($v00))"
    cells
      .select(
        $"n11", $"n10", $"n01", $"n00",
        expr(s"ROUND($e11, 6)").as("m_treat_post"),
        expr(s"ROUND($e10, 6)").as("m_treat_pre"),
        expr(s"ROUND($e01, 6)").as("m_ctrl_post"),
        expr(s"ROUND($e00, 6)").as("m_ctrl_pre"),
        expr(s"ROUND($didExpr, 6)").as("did_cents"),
        expr(s"ROUND($seExpr, 6)").as("se_cents"),
        expr(s"ROUND(($didExpr) / ($seExpr), 6)").as("t_stat"),
      )
  }

  private val q250Sql = {
    def r(c: String) = s"CAST(s$c AS DOUBLE) / CAST(n$c AS DOUBLE)"
    def v(c: String) =
      s"(CAST(xx$c AS DOUBLE) - 2.0 * (${r(c)}) * " +
        s"CAST(xn$c AS DOUBLE) + (${r(c)}) * (${r(c)}) * " +
        s"CAST(nn$c AS DOUBLE)) / " +
        s"(CAST(n$c AS DOUBLE) * CAST(n$c AS DOUBLE))"
    val did =
      s"((${r("11")}) - (${r("10")})) - ((${r("01")}) - (${r("00")}))"
    val se = s"SQRT((${v("11")}) + (${v("10")}) + (${v("01")}) + " +
      s"(${v("00")}))"
    def cellCols(t: Int, p: String, c: String) = // p: 'TRUE'/'FALSE'
      s"""CAST(SUM(CASE WHEN treat = $t AND post = $p THEN nu
        | ELSE 0 END) AS BIGINT) AS n$c,
        |CAST(SUM(CASE WHEN treat = $t AND post = $p THEN su
        | ELSE 0 END) AS BIGINT) AS s$c,
        |CAST(SUM(CASE WHEN treat = $t AND post = $p THEN su * su
        | ELSE 0 END) AS BIGINT) AS xx$c,
        |CAST(SUM(CASE WHEN treat = $t AND post = $p THEN su * nu
        | ELSE 0 END) AS BIGINT) AS xn$c,
        |CAST(SUM(CASE WHEN treat = $t AND post = $p THEN nu * nu
        | ELSE 0 END) AS BIGINT) AS nn$c""".stripMargin
    s"""WITH by_user AS (
      |  SELECT user_id % 2 = 1 AS treat,
      |    epoch_us(ts) >= 1705363200000000 AS post,
      |    COUNT(*) AS nu, CAST(SUM($centsExpr) AS BIGINT) AS su
      |  FROM events GROUP BY 1, user_id, 2),
      |cells AS (
      |  SELECT
      |    ${cellCols(1, "TRUE", "11")},
      |    ${cellCols(1, "FALSE", "10")},
      |    ${cellCols(0, "TRUE", "01")},
      |    ${cellCols(0, "FALSE", "00")}
      |  FROM (SELECT CASE WHEN treat THEN 1 ELSE 0 END AS treat,
      |    post, nu, su FROM by_user) u)
      |SELECT n11, n10, n01, n00,
      |  ROUND(${r("11")}, 6) AS m_treat_post,
      |  ROUND(${r("10")}, 6) AS m_treat_pre,
      |  ROUND(${r("01")}, 6) AS m_ctrl_post,
      |  ROUND(${r("00")}, 6) AS m_ctrl_pre,
      |  ROUND($did, 6) AS did_cents,
      |  ROUND($se, 6) AS se_cents,
      |  ROUND(($did) / ($se), 6) AS t_stat
      |FROM cells""".stripMargin
  }

  /** q251: ANYTIME-VALID SEQUENTIAL TEST (mSPRT) — the fix for the
    * peeking problem q185's fixed-horizon t-test silently has: a
    * dashboard that checks daily and stops on significance inflates
    * false positives, while the mixture sequential probability ratio
    * test's always-valid p-value may be inspected after EVERY day. Per
    * type, the A/B contrast (user-parity split) is monitored over the
    * calendar: day-grain cumulative sufficient statistics (Σn, Σx, Σx²
    * per arm — INTEGER window cumsums), the plug-in two-sample variance,
    * and the normal-mixture log likelihood ratio
    * lnΛ = ½ln(V/(V+τ²)) + θ̂²τ²/(2V(V+τ²)), reported on the LOG scale
    * because ln/sqrt/×/÷ are correctly-rounded IEEE primitives while
    * exp is not (the module's parity discipline); the boundary crossing
    * compares lnΛ's running max against ln(1/α) as a literal. No
    * recursion anywhere — Λ_n is a closed form of the cumulatives, so
    * the whole monitor is two windows over (type × day) rows.
    */
  private def q251(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = Tables
      .events(s, d)
      .select($"event_type",
        expr("unix_micros(ts) DIV 86400000000").as("day_id"),
        ($"user_id" % 2 === 0L).as("arm_a"), expr(centsExpr).as("c"))
      .groupBy($"event_type", $"day_id")
      .agg(
        sum(when($"arm_a", 1L).otherwise(0L)).as("dna"),
        sum(when($"arm_a", $"c").otherwise(0L)).as("dsa"),
        sum(when($"arm_a", $"c" * $"c").otherwise(0L)).as("dqa"),
        sum(when(!$"arm_a", 1L).otherwise(0L)).as("dnb"),
        sum(when(!$"arm_a", $"c").otherwise(0L)).as("dsb"),
        sum(when(!$"arm_a", $"c" * $"c").otherwise(0L)).as("dqb"),
      )
    val cumW = Window.partitionBy($"event_type").orderBy($"day_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily
      .withColumn("na", sum($"dna").over(cumW))
      .withColumn("sa", sum($"dsa").over(cumW))
      .withColumn("qa", sum($"dqa").over(cumW))
      .withColumn("nb", sum($"dnb").over(cumW))
      .withColumn("sb", sum($"dsb").over(cumW))
      .withColumn("qb", sum($"dqb").over(cumW))
    // identical-operand-order doubles from the integer cumulatives;
    // τ = 50 cents (τ² = 2500), the mixture scale a cents-denominated
    // metric plausibly moves by
    val lnl =
      "0.5 * LN(vv / (vv + 2500.0)) + " +
        "(th * th) * 2500.0 / (2.0 * vv * (vv + 2500.0))"
    val scored = cum
      .withColumn("ma", expr("CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"))
      .withColumn("mb", expr("CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)"))
      .withColumn("s2", expr(
        "(CAST(qa AS DOUBLE) - CAST(na AS DOUBLE) * ma * ma + " +
          "CAST(qb AS DOUBLE) - CAST(nb AS DOUBLE) * mb * mb) / " +
          "CAST(na + nb - 2 AS DOUBLE)"))
      .withColumn("vv", expr(
        "s2 * (1.0 / CAST(na AS DOUBLE) + 1.0 / CAST(nb AS DOUBLE))"))
      .withColumn("th", expr("ma - mb"))
      .withColumn("ln_lambda", expr(lnl))
    val runMax = Window.partitionBy($"event_type").orderBy($"day_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("ln_lambda_max", max($"ln_lambda").over(runMax))
      .select($"event_type", $"day_id", $"na", $"nb",
        round($"ln_lambda", 6).as("ln_lambda"),
        round($"ln_lambda_max", 6).as("ln_lambda_max"),
        // α = 0.05: crossed ⟺ max lnΛ ≥ ln 20
        ($"ln_lambda_max" >= 2.995732273553991).as("crossed"))
      .orderBy($"event_type", $"day_id")
  }

  private val q251Sql =
    s"""WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day_id,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS dna,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN $centsExpr
      |      ELSE 0 END) AS BIGINT) AS dsa,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0
      |      THEN $centsExpr * $centsExpr ELSE 0 END) AS BIGINT) AS dqa,
      |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS dnb,
      |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN $centsExpr
      |      ELSE 0 END) AS BIGINT) AS dsb,
      |    CAST(SUM(CASE WHEN user_id % 2 <> 0
      |      THEN $centsExpr * $centsExpr ELSE 0 END) AS BIGINT) AS dqb
      |  FROM events GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, day_id,
      |    CAST(SUM(dna) OVER w AS BIGINT) AS na,
      |    CAST(SUM(dsa) OVER w AS BIGINT) AS sa,
      |    CAST(SUM(dqa) OVER w AS BIGINT) AS qa,
      |    CAST(SUM(dnb) OVER w AS BIGINT) AS nb,
      |    CAST(SUM(dsb) OVER w AS BIGINT) AS sb,
      |    CAST(SUM(dqb) OVER w AS BIGINT) AS qb
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |scored AS (
      |  SELECT event_type, day_id, na, nb,
      |    0.5 * LN(vv / (vv + 2500.0)) +
      |      (th * th) * 2500.0 / (2.0 * vv * (vv + 2500.0))
      |      AS ln_lambda
      |  FROM (
      |    SELECT *, s2 * (1.0 / CAST(na AS DOUBLE) +
      |        1.0 / CAST(nb AS DOUBLE)) AS vv, ma - mb AS th
      |    FROM (
      |      SELECT *,
      |        (CAST(qa AS DOUBLE) - CAST(na AS DOUBLE) * ma * ma +
      |         CAST(qb AS DOUBLE) - CAST(nb AS DOUBLE) * mb * mb) /
      |          CAST(na + nb - 2 AS DOUBLE) AS s2
      |      FROM (
      |        SELECT *,
      |          CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
      |          CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb
      |        FROM cum) m) v) s)
      |SELECT event_type, day_id, na, nb,
      |  ROUND(ln_lambda, 6) AS ln_lambda,
      |  ROUND(MAX(ln_lambda) OVER (PARTITION BY event_type
      |    ORDER BY day_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
      |    AS ln_lambda_max,
      |  MAX(ln_lambda) OVER (PARTITION BY event_type ORDER BY day_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    >= 2.995732273553991 AS crossed
      |FROM scored ORDER BY event_type, day_id""".stripMargin

  /** q252: QINI UPLIFT CURVE — the INCREMENTAL-targeting readout q241's
    * gains table cannot give: gains asks "did we capture responders",
    * Qini asks "did we capture responders who would NOT have responded
    * untargeted", scoring the score by treated-vs-control response gap
    * at each depth. Same distinct-score decile cutoffs as q241 (tied
    * scores never split, histogram-expressible); at each depth the
    * treated responders minus the control responders scaled to the
    * treated exposure, rt − rc·nt/nc — one float expression per decile
    * row from four monotone INTEGER cumulatives.
    */
  private def q252(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tables
      .events(s, d)
      .select(expr(centsExpr).as("c"),
        ($"user_id" % 2 === 1L).as("treat"),
        when($"event_type" === "purchase", 1L).otherwise(0L).as("p"))
      .groupBy($"c")
      .agg(
        sum(when($"treat", 1L).otherwise(0L)).as("dnt"),
        sum(when($"treat", $"p").otherwise(0L)).as("drt"),
        sum(when(!$"treat", 1L).otherwise(0L)).as("dnc"),
        sum(when(!$"treat", $"p").otherwise(0L)).as("drc"),
      )
    val runW = Window.orderBy($"c".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allW = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = hist
      .withColumn("nt", sum($"dnt").over(runW))
      .withColumn("rt", sum($"drt").over(runW))
      .withColumn("nc", sum($"dnc").over(runW))
      .withColumn("rc", sum($"drc").over(runW))
      .withColumn("cum_n", $"nt" + $"nc")
      .withColumn("n", sum($"dnt" + $"dnc").over(allW))
    val deciles = s.range(1, 11).select($"id".as("k"))
    cum
      .join(broadcast(deciles), $"cum_n" * 10L <= $"k" * $"n")
      .groupBy($"k")
      .agg(max($"cum_n").as("depth_n"), max($"nt").as("n_treat"),
        max($"rt").as("r_treat"), max($"nc").as("n_ctrl"),
        max($"rc").as("r_ctrl"))
      .withColumn("qini",
        round($"r_treat".cast("double") -
          $"r_ctrl".cast("double") * $"n_treat".cast("double") /
          $"n_ctrl".cast("double"), 6))
      .select($"k", $"depth_n", $"n_treat", $"r_treat", $"n_ctrl",
        $"r_ctrl", $"qini")
      .orderBy($"k")
  }

  private val q252Sql =
    s"""WITH hist AS (
      |  SELECT $centsExpr AS c,
      |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS dnt,
      |    CAST(SUM(CASE WHEN user_id % 2 = 1 AND
      |      event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS drt,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS dnc,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 AND
      |      event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS drc
      |  FROM events GROUP BY 1),
      |cum AS (
      |  SELECT
      |    SUM(dnt) OVER w AS nt, SUM(drt) OVER w AS rt,
      |    SUM(dnc) OVER w AS nc, SUM(drc) OVER w AS rc,
      |    SUM(dnt + dnc) OVER w AS cum_n,
      |    SUM(dnt + dnc) OVER () AS n
      |  FROM hist
      |  WINDOW w AS (ORDER BY c DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT k, CAST(MAX(cum_n) AS BIGINT) AS depth_n,
      |  CAST(MAX(nt) AS BIGINT) AS n_treat,
      |  CAST(MAX(rt) AS BIGINT) AS r_treat,
      |  CAST(MAX(nc) AS BIGINT) AS n_ctrl,
      |  CAST(MAX(rc) AS BIGINT) AS r_ctrl,
      |  ROUND(CAST(MAX(rt) AS DOUBLE) -
      |    CAST(MAX(rc) AS DOUBLE) * CAST(MAX(nt) AS DOUBLE) /
      |    CAST(MAX(nc) AS DOUBLE), 6) AS qini
      |FROM cum, range(1, 11) r(k)
      |WHERE cum_n * 10 <= k * n
      |GROUP BY k ORDER BY k""".stripMargin

  /** q254: AUTOCORRELATION + LJUNG–BOX — the residual diagnostic the
    * forecasting family (q214/q220/q237) was missing: a forecaster
    * whose errors are autocorrelated is leaving signal on the table,
    * and Ljung–Box is the standard "is this series white noise?"
    * portmanteau test. Per type, the daily revenue series' ACF at lags
    * 1..7 and the cumulative Q(k) = n(n+2)·Σ_{j≤k} r_j²/(n−j).
    *
    * Exactness: the lag products Σxᵢxᵢ₋ₖ and the head/tail partial
    * sums are INTEGER (the lag alignment is an equi-join of the series
    * against itself shifted by a 7-row lag dim — never a non-equi
    * join); r_k assembles from them in identical IEEE order via the
    * expanded covariance L − x̄(H+T) + (n−k)x̄²; the Q sum rounds each
    * r²/(n−k) term to 1e-9 and INTEGER-sums in the k-window (q195's
    * device — a 7-term float sum is still a fold). Day cardinality
    * everywhere after one grouped pass.
    */
  private def q254(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val maxLag = 7
    val daily = Tables
      .events(s, d)
      .select($"event_type",
        expr("unix_micros(ts) DIV 86400000000").as("day_id"),
        expr(centsExpr).as("c"))
      .groupBy($"event_type", $"day_id")
      .agg(sum($"c").as("x"))
      .withColumn("rn",
        row_number().over(
          Window.partitionBy($"event_type").orderBy($"day_id"))
          .cast("long"))
    val stats = daily
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"x" * $"x").as("sxx"))
    val lags = s.range(1, maxLag + 1).select($"id".as("k"))
    val shifted = daily
      .crossJoin(broadcast(lags))
      .withColumn("rn_src", $"rn" - $"k")
      .join(daily.select($"event_type", $"rn".as("rn_src"),
        $"x".as("xl")), Seq("event_type", "rn_src"))
    val acf = shifted
      .groupBy($"event_type", $"k")
      .agg(sum($"x" * $"xl").as("lk"), sum($"x").as("tk"),
        sum($"xl").as("hk"))
      .join(stats, Seq("event_type"))
      .withColumn("r", expr(
        "(CAST(lk AS DOUBLE) - (CAST(sx AS DOUBLE) / CAST(n AS " +
          "DOUBLE)) * CAST(hk + tk AS DOUBLE) + CAST(n - k AS DOUBLE)" +
          " * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(sx AS " +
          "DOUBLE) / CAST(n AS DOUBLE))) / (CAST(sxx AS DOUBLE) - " +
          "CAST(n AS DOUBLE) * (CAST(sx AS DOUBLE) / CAST(n AS " +
          "DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"))
      .withColumn("term_nano",
        expr("CAST(ROUND(r * r / CAST(n - k AS DOUBLE) * 1000000000)" +
          " AS BIGINT)"))
    val cumW = Window.partitionBy($"event_type").orderBy($"k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    acf
      .withColumn("nano_cum", sum($"term_nano").over(cumW))
      .select($"event_type", $"k", $"n", $"lk",
        round($"r", 6).as("acf"),
        expr("ROUND(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) * " +
          "(CAST(nano_cum AS DOUBLE) / 1000000000.0), 6)")
          .as("q_stat"))
      .orderBy($"event_type", $"k")
  }

  private val q254Sql =
    s"""WITH daily AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day_id,
      |    CAST(SUM($centsExpr) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |numbered AS (
      |  SELECT event_type, x,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY day_id) AS BIGINT) AS rn
      |  FROM daily),
      |stats AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM numbered GROUP BY 1),
      |acf AS (
      |  SELECT a.event_type, l.k,
      |    CAST(SUM(a.x * b.x) AS BIGINT) AS lk,
      |    CAST(SUM(a.x) AS BIGINT) AS tk,
      |    CAST(SUM(b.x) AS BIGINT) AS hk
      |  FROM numbered a
      |  CROSS JOIN range(1, 8) l(k)
      |  JOIN numbered b ON b.event_type = a.event_type
      |    AND b.rn = a.rn - l.k
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT f.event_type, f.k, s.n, f.lk,
      |    (CAST(f.lk AS DOUBLE) - (CAST(s.sx AS DOUBLE) /
      |      CAST(s.n AS DOUBLE)) * CAST(f.hk + f.tk AS DOUBLE) +
      |      CAST(s.n - f.k AS DOUBLE) * (CAST(s.sx AS DOUBLE) /
      |      CAST(s.n AS DOUBLE)) * (CAST(s.sx AS DOUBLE) /
      |      CAST(s.n AS DOUBLE))) / (CAST(s.sxx AS DOUBLE) -
      |      CAST(s.n AS DOUBLE) * (CAST(s.sx AS DOUBLE) /
      |      CAST(s.n AS DOUBLE)) * (CAST(s.sx AS DOUBLE) /
      |      CAST(s.n AS DOUBLE))) AS r
      |  FROM acf f JOIN stats s ON s.event_type = f.event_type),
      |nano AS (
      |  SELECT *, CAST(ROUND(r * r / CAST(n - k AS DOUBLE) *
      |    1000000000) AS BIGINT) AS term_nano
      |  FROM scored)
      |SELECT event_type, k, n, lk, ROUND(r, 6) AS acf,
      |  ROUND(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) *
      |    (CAST(SUM(term_nano) OVER (PARTITION BY event_type
      |      ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND
      |      CURRENT ROW) AS DOUBLE) / 1000000000.0), 6) AS q_stat
      |FROM nano ORDER BY event_type, k""".stripMargin

  /** q255: EMPIRICAL-BAYES SHRINKAGE of segment means — the fix for
    * the dashboard trap where the "best hour" is just the noisiest
    * cell: per type, the 24 hour-of-day mean `value`s are shrunk
    * toward the type's grand mean by the one-way random-effects
    * posterior factor B_c = τ̂²/(τ̂² + σ̂²/n_c), with σ̂² (within) and
    * τ̂² (between, method of moments: (MSB − σ̂²)/n₀) estimated from
    * the same pass — the James–Stein/partial-pooling estimate every
    * ranking-of-segments readout should use instead of raw cell means.
    *
    * Exactness: per-cell integer sufficient statistics (n, Σx, Σx²,
    * and Σx²/n-style rational terms rounded to 1e-6 then INTEGER-
    * summed — q195's device); every derived double assembles from
    * those integers in identical IEEE order. One event pass, then
    * |types|×24 cells.
    */
  private def q255(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = Tables
      .events(s, d)
      .select($"event_type", expr(hrExpr).as("hr"),
        expr(centsExpr).as("c"))
      .groupBy($"event_type", $"hr")
      .agg(count(lit(1)).as("n"), sum($"c").as("sx"),
        sum($"c" * $"c").as("qx"))
      // the two rational per-cell terms, micro-rounded for exact sums
      .withColumn("a_micro", expr(
        "CAST(ROUND(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / " +
          "CAST(n AS DOUBLE) * 1000000) AS BIGINT)"))
    val part = Window.partitionBy($"event_type")
    val enriched = cells
      .withColumn("kk", count(lit(1)).over(part))
      .withColumn("nn", sum($"n").over(part))
      .withColumn("ss", sum($"sx").over(part))
      .withColumn("qq", sum($"qx").over(part))
      .withColumn("aa", sum($"a_micro").over(part))
      .withColumn("n2", sum($"n" * $"n").over(part))
    // identical-operand-order doubles from the integer aggregates:
    // within σ², between MS, n₀, τ² — the one-way ANOVA decomposition
    // degenerate strata make the ANOVA moments 0/0 (kk = 1: a type
    // seen in one hour only; nn = kk: every cell is a singleton so σ̂²
    // is undefined; τ̂² = σ̂² = 0: no variance anywhere) — there is no
    // information to shrink WITH, so the factor is defined as 0 (full
    // pooling; for kk = 1 the cell mean IS the grand mean so the
    // output is unchanged), identically in both engines. The Spark
    // side additionally wraps the inner denominators in NULLIF:
    // ANSI throws DIVIDE_BY_ZERO even for doubles, and whole-stage
    // codegen's SUBEXPRESSION ELIMINATION hoists σ̂² out of the CASE
    // so the guard alone cannot keep the division from evaluating
    // (Round14Spec reproduces this). NULLIF makes the hoisted
    // evaluation total (NULL, caught by the CASE), and is the
    // identity whenever the cell is non-degenerate, so the oracle —
    // where double division never errors — needs no counterpart.
    val sig2 = "((CAST(qq AS DOUBLE) - CAST(aa AS DOUBLE) / 1000000.0)" +
      " / CAST(NULLIF(nn - kk, 0) AS DOUBLE))"
    val ssb = "(CAST(aa AS DOUBLE) / 1000000.0 - CAST(ss AS DOUBLE) *" +
      " CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))"
    val n0 = "((CAST(nn AS DOUBLE) - CAST(n2 AS DOUBLE) / " +
      "CAST(nn AS DOUBLE)) / CAST(NULLIF(kk - 1, 0) AS DOUBLE))"
    val tau2 = s"(GREATEST(0.0, ($ssb / CAST(NULLIF(kk - 1, 0) " +
      s"AS DOUBLE) - $sig2) / $n0))"
    val bf = s"(CASE WHEN kk <= 1 OR nn = kk OR " +
      s"($tau2 + $sig2 / CAST(n AS DOUBLE)) = 0.0 THEN 0.0 ELSE " +
      s"($tau2 / NULLIF($tau2 + $sig2 / CAST(n AS DOUBLE), 0.0)) " +
      s"END)"
    val gm = "(CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))"
    val mc = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    enriched
      .select($"event_type", $"hr", $"n",
        expr(s"ROUND($mc, 6)").as("raw_mean"),
        expr(s"ROUND($gm, 6)").as("grand_mean"),
        expr(s"ROUND($bf, 6)").as("shrink_factor"),
        expr(s"ROUND($gm + $bf * ($mc - $gm), 6)").as("shrunk_mean"))
      .orderBy($"event_type", $"hr")
  }

  private val q255Sql = {
    val sig2 = "((CAST(qq AS DOUBLE) - CAST(aa AS DOUBLE) / 1000000.0)" +
      " / CAST(nn - kk AS DOUBLE))"
    val ssb = "(CAST(aa AS DOUBLE) / 1000000.0 - CAST(ss AS DOUBLE) *" +
      " CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))"
    val n0 = "((CAST(nn AS DOUBLE) - CAST(n2 AS DOUBLE) / " +
      "CAST(nn AS DOUBLE)) / CAST(kk - 1 AS DOUBLE))"
    val tau2 = s"(GREATEST(0.0, ($ssb / CAST(kk - 1 AS DOUBLE) - " +
      s"$sig2) / $n0))"
    val bf = s"(CASE WHEN kk <= 1 OR nn = kk OR " +
      s"($tau2 + $sig2 / CAST(n AS DOUBLE)) = 0.0 THEN 0.0 ELSE " +
      s"($tau2 / ($tau2 + $sig2 / CAST(n AS DOUBLE))) END)"
    val gm = "(CAST(ss AS DOUBLE) / CAST(nn AS DOUBLE))"
    val mc = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    s"""WITH cells AS (
      |  SELECT event_type, $hrSqlExpr AS hr, COUNT(*) AS n,
      |    CAST(SUM($centsExpr) AS BIGINT) AS sx,
      |    CAST(SUM($centsExpr * $centsExpr) AS BIGINT) AS qx
      |  FROM events GROUP BY 1, 2),
      |terms AS (
      |  SELECT *, CAST(ROUND(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
      |    / CAST(n AS DOUBLE) * 1000000) AS BIGINT) AS a_micro
      |  FROM cells),
      |enriched AS (
      |  SELECT event_type, hr, n, sx,
      |    COUNT(*) OVER w AS kk,
      |    CAST(SUM(n) OVER w AS BIGINT) AS nn,
      |    CAST(SUM(sx) OVER w AS BIGINT) AS ss,
      |    CAST(SUM(qx) OVER w AS BIGINT) AS qq,
      |    CAST(SUM(a_micro) OVER w AS BIGINT) AS aa,
      |    CAST(SUM(n * n) OVER w AS BIGINT) AS n2
      |  FROM terms WINDOW w AS (PARTITION BY event_type))
      |SELECT event_type, hr, n,
      |  ROUND($mc, 6) AS raw_mean,
      |  ROUND($gm, 6) AS grand_mean,
      |  ROUND($bf, 6) AS shrink_factor,
      |  ROUND($gm + $bf * ($mc - $gm), 6) AS shrunk_mean
      |FROM enriched ORDER BY event_type, hr""".stripMargin
  }

  /** q257: SPLIT-CONFORMAL PREDICTION INTERVALS — distribution-free
    * uncertainty for a point predictor, the modern answer to "the
    * forecast says 50, how wrong can it be?" with a finite-sample
    * coverage GUARANTEE (≥ 1−α whatever the data distribution): train
    * a per-(type, hour-of-day) mean predictor on the first ten days,
    * take the ⌈(n+1)(1−α)⌉-th smallest absolute calibration residual
    * on the next ten as the interval half-width, and audit empirical
    * coverage on the held-out last ten.
    *
    * Exactness: the predictor stays the integer RATIONAL (ΣS, N) —
    * residuals compare as |c·N − S| (cross-multiplied, never a float
    * subtraction), the conformal rank k = ⌈(n+1)·9/10⌉ is integer
    * ceiling division, the order statistic is "smallest score whose
    * cumulative count reaches k" (q248's device — tie-safe where
    * row_number is not), and the coverage audit is an integer compare
    * per test row. Three calendar slices from one pass; everything
    * after the two grouped aggregates is (type × hour)-domain.
    */
  private def q257(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cutTrainUs = 1704931200000000L // 2024-01-11T00:00:00Z
    val cutCalUs = 1705795200000000L //   2024-01-21T00:00:00Z
    val ev = Tables
      .events(s, d)
      .select($"event_type", expr(hrExpr).as("hr"),
        expr(centsExpr).as("c"), unix_micros($"ts").as("us"))
    val train = ev
      .filter($"us" < cutTrainUs)
      .groupBy($"event_type", $"hr")
      .agg(count(lit(1)).as("n_train"), sum($"c").as("s_train"))
    val calScores = ev
      .filter($"us" >= cutTrainUs && $"us" < cutCalUs)
      .join(train, Seq("event_type", "hr"))
      .select($"event_type", $"hr", $"n_train", $"s_train",
        abs($"c" * $"n_train" - $"s_train").as("score"))
    val calHist = calScores
      .groupBy($"event_type", $"hr", $"n_train", $"s_train", $"score")
      .agg(count(lit(1)).as("cnt"))
    val cell = Window.partitionBy($"event_type", $"hr")
    val runW = cell.orderBy($"score")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qhat = calHist
      .withColumn("cum", sum($"cnt").over(runW))
      .withColumn("n_cal", sum($"cnt").over(cell))
      .withColumn("k", expr("(9 * (n_cal + 1) + 9) DIV 10"))
      .groupBy($"event_type", $"hr", $"n_train", $"s_train")
      .agg(max($"n_cal").as("n_cal"), max($"k").as("k"),
        min(when($"cum" >= $"k", $"score")).as("q_scaled"))
      // k > n_cal ⇒ the conformal interval is infinite; surfaced, not
      // silently clamped
      .withColumn("q_scaled",
        when($"k" > $"n_cal", lit(null)).otherwise($"q_scaled"))
    val test = ev
      .filter($"us" >= cutCalUs)
      .join(qhat, Seq("event_type", "hr"))
      .groupBy($"event_type", $"hr")
      .agg(count(lit(1)).as("n_test"),
        sum(when(abs($"c" * $"n_train" - $"s_train") <= $"q_scaled",
          1L).otherwise(0L)).as("n_covered"))
    qhat
      .join(test, Seq("event_type", "hr"))
      .select($"event_type", $"hr", $"n_train", $"n_cal", $"n_test",
        expr("ROUND(CAST(s_train AS DOUBLE) / CAST(n_train AS " +
          "DOUBLE), 6)").as("mu_cents"),
        expr("ROUND(CAST(q_scaled AS DOUBLE) / CAST(n_train AS " +
          "DOUBLE), 6)").as("qhat_cents"),
        expr("n_covered * 1000 DIV n_test").as("coverage_permille"))
      .orderBy($"event_type", $"hr")
  }

  private val q257Sql =
    s"""WITH ev AS (
      |  SELECT event_type, $hrSqlExpr AS hr, $centsExpr AS c,
      |    epoch_us(ts) AS us
      |  FROM events),
      |train AS (
      |  SELECT event_type, hr, COUNT(*) AS n_train,
      |    CAST(SUM(c) AS BIGINT) AS s_train
      |  FROM ev WHERE us < 1704931200000000 GROUP BY 1, 2),
      |cal_hist AS (
      |  SELECT e.event_type, e.hr, t.n_train, t.s_train,
      |    ABS(e.c * t.n_train - t.s_train) AS score, COUNT(*) AS cnt
      |  FROM ev e JOIN train t
      |    ON t.event_type = e.event_type AND t.hr = e.hr
      |  WHERE e.us >= 1704931200000000 AND e.us < 1705795200000000
      |  GROUP BY 1, 2, 3, 4, 5),
      |ranked AS (
      |  SELECT *,
      |    SUM(cnt) OVER (PARTITION BY event_type, hr ORDER BY score
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    SUM(cnt) OVER (PARTITION BY event_type, hr) AS n_cal
      |  FROM cal_hist),
      |qhat AS (
      |  SELECT event_type, hr, n_train, s_train,
      |    CAST(MAX(n_cal) AS BIGINT) AS n_cal,
      |    CASE WHEN (9 * (MAX(n_cal) + 1) + 9) // 10 > MAX(n_cal)
      |      THEN NULL
      |      ELSE MIN(CASE WHEN cum >= (9 * (n_cal + 1) + 9) // 10
      |        THEN score END) END AS q_scaled
      |  FROM ranked GROUP BY 1, 2, 3, 4),
      |test AS (
      |  SELECT e.event_type, e.hr, COUNT(*) AS n_test,
      |    CAST(SUM(CASE WHEN ABS(e.c * q.n_train - q.s_train)
      |      <= q.q_scaled THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
      |  FROM ev e JOIN qhat q
      |    ON q.event_type = e.event_type AND q.hr = e.hr
      |  WHERE e.us >= 1705795200000000
      |  GROUP BY 1, 2)
      |SELECT q.event_type, q.hr, q.n_train, q.n_cal, t.n_test,
      |  ROUND(CAST(q.s_train AS DOUBLE) / CAST(q.n_train AS DOUBLE),
      |    6) AS mu_cents,
      |  ROUND(CAST(q.q_scaled AS DOUBLE) / CAST(q.n_train AS DOUBLE),
      |    6) AS qhat_cents,
      |  t.n_covered * 1000 // t.n_test AS coverage_permille
      |FROM qhat q JOIN test t
      |  ON t.event_type = q.event_type AND t.hr = q.hr
      |ORDER BY q.event_type, q.hr""".stripMargin

  /** q259: POST-STRATIFICATION (direct standardization) — the
    * composition-adjustment every observational A-vs-B comparison
    * needs before anyone trusts it: if arm B's traffic skews toward
    * high-value hours, the raw mean difference confounds arm and
    * hour-mix. The adjusted B mean reweights B's per-hour means to
    * A's hour composition, Σ_h (n_Ah/N_A)·(S_Bh/n_Bh) —
    * epidemiology's age-adjusted rate, the experiment platform's
    * "weighted by control composition" toggle. Per-hour rational
    * terms n_Ah·S_Bh/n_Bh are rounded to 1e-6 and INTEGER-summed
    * (q195's device); the output reports raw and adjusted differences
    * side by side with the composition χ²-style imbalance the
    * adjustment is correcting. One pass to (arm × 24) cells.
    */
  private def q259(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = Tables
      .events(s, d)
      .select(($"user_id" % 2 === 1L).as("b"), expr(hrExpr).as("hr"),
        expr(centsExpr).as("c"))
      .groupBy($"hr")
      .agg(
        sum(when(!$"b", 1L).otherwise(0L)).as("na"),
        sum(when(!$"b", $"c").otherwise(0L)).as("sa"),
        sum(when($"b", 1L).otherwise(0L)).as("nb"),
        sum(when($"b", $"c").otherwise(0L)).as("sb"),
      )
      // weighted term of the standardized B mean: n_Ah · mean_Bh,
      // micro-rounded so the cross-cell sum is an integer fold. An
      // hour stratum with zero arm-B events would make sb/nb NaN and
      // the ANSI CAST(ROUND(NaN)) throw — such a stratum contributes
      // nothing to the reweighted mean, so guard it to 0 identically
      // in both engines.
      .withColumn("adj_micro", expr(
        "CASE WHEN nb = 0 THEN CAST(0 AS BIGINT) ELSE " +
          "CAST(ROUND(CAST(na AS DOUBLE) * (CAST(sb AS DOUBLE) / " +
          "CAST(nb AS DOUBLE)) * 1000000) AS BIGINT) END"))
    cells
      .groupBy()
      .agg(sum($"na").as("n_a"), sum($"sa").as("s_a"),
        sum($"nb").as("n_b"), sum($"sb").as("s_b"),
        sum($"adj_micro").as("adj_micro"))
      .select($"n_a", $"n_b",
        expr("ROUND(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)")
          .as("mean_a"),
        expr("ROUND(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)")
          .as("mean_b_raw"),
        expr("ROUND(CAST(adj_micro AS DOUBLE) / 1000000.0 / " +
          "CAST(n_a AS DOUBLE), 6)").as("mean_b_adjusted"),
        expr("ROUND(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) - " +
          "CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)")
          .as("diff_raw"),
        expr("ROUND(CAST(adj_micro AS DOUBLE) / 1000000.0 / " +
          "CAST(n_a AS DOUBLE) - CAST(s_a AS DOUBLE) / " +
          "CAST(n_a AS DOUBLE), 6)").as("diff_adjusted"))
  }

  private val q259Sql =
    s"""WITH cells AS (
      |  SELECT $hrSqlExpr AS hr,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS na,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN $centsExpr
      |      ELSE 0 END) AS BIGINT) AS sa,
      |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS nb,
      |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN $centsExpr
      |      ELSE 0 END) AS BIGINT) AS sb
      |  FROM events GROUP BY 1),
      |terms AS (
      |  SELECT *, CASE WHEN nb = 0 THEN CAST(0 AS BIGINT) ELSE
      |    CAST(ROUND(CAST(na AS DOUBLE) *
      |      (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) * 1000000)
      |      AS BIGINT) END AS adj_micro
      |  FROM cells),
      |tot AS (
      |  SELECT CAST(SUM(na) AS BIGINT) AS n_a,
      |    CAST(SUM(sa) AS BIGINT) AS s_a,
      |    CAST(SUM(nb) AS BIGINT) AS n_b,
      |    CAST(SUM(sb) AS BIGINT) AS s_b,
      |    CAST(SUM(adj_micro) AS BIGINT) AS adj_micro
      |  FROM terms)
      |SELECT n_a, n_b,
      |  ROUND(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS mean_a,
      |  ROUND(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
      |    AS mean_b_raw,
      |  ROUND(CAST(adj_micro AS DOUBLE) / 1000000.0 /
      |    CAST(n_a AS DOUBLE), 6) AS mean_b_adjusted,
      |  ROUND(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) -
      |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS diff_raw,
      |  ROUND(CAST(adj_micro AS DOUBLE) / 1000000.0 /
      |    CAST(n_a AS DOUBLE) - CAST(s_a AS DOUBLE) /
      |    CAST(n_a AS DOUBLE), 6) AS diff_adjusted
      |FROM tot""".stripMargin

  /** The day q260's persisted histogram ends: history strictly before
    * it lives in the store, the rest is the run's delta.
    */
  private val q260CutUs = 1706140800000000L // 2024-01-25T00:00:00Z

  /** q260's persisted metric state: the (hour, cent) → (positives,
    * total) histogram of the events before [[q260CutUs]], keyed on the
    * events file's freshness so a rewritten table rebuilds it.
    */
  private[graft] val q260Hist = StoreGuard.declare("target/stage_eval",
      "q260_hist", "events.parquet", payload = Seq("hist")) { (s, d, root) =>
    import s.implicits._
    eventsHist(s, d)
      .filter($"us" < q260CutUs)
      .groupBy($"hr", $"c")
      .agg(sum($"p").as("pos"), count(lit(1)).as("tot"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/hist")
  }

  /** q260: INCREMENTAL AUC — metric maintenance as a PIPELINE, the
    * production shape where yesterday's metric state persists and
    * today only the delta is touched (the q177/q182/q184 incremental
    * family extended to the evaluation module): the (hour, cent) →
    * (positives, total) histogram of the corpus through day 24 lives
    * in a persisted store (built once, build-if-absent with the
    * store-level completion marker); the registered run aggregates
    * ONLY the post-cut delta events, merges the two histograms by sum
    * (the histogram is a perfect mergeable summary — AUC's sufficient
    * statistic), and replays q240's exact rank arithmetic on the
    * merge. The merge is INTEGER-identical to the whole-corpus
    * recompute, so the oracle is LITERALLY q240's SQL over the full
    * table — the q177 full-recompute-equivalence gate. At 100 TB the
    * nightly metric job reads a value-domain-sized store + one day of
    * events instead of the corpus.
    */
  private def q260(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val store = s.read.parquet(s"${q260Hist.ensure(s, d)}/hist")
    val delta = eventsHist(s, d)
      .filter($"us" >= q260CutUs)
      .groupBy($"hr", $"c")
      .agg(sum($"p").as("pos"), count(lit(1)).as("tot"))
    aucFromHist(
      store
        .unionByName(delta)
        .groupBy($"hr", $"c")
        .agg(sum($"pos").as("pos"), sum($"tot").as("tot")))
  }

  // ---- q269: Bradley–Terry preference ranking ------------------------

  /** The exact integer minorization–maximization iteration for the
    * Bradley–Terry model, shared verbatim by the q269 driver loop and
    * (as unrolled SQL sweeps) the DuckDB oracle: strengths live in nano
    * units, each update is
    *   raw_i  = (w_i · 10¹⁴) div Σ_j (n_ij · 10¹⁴) div max(π_i + π_j, 1)
    *   π_i    = (raw_i · nb · 10⁹) div Σ raw        (renormalized)
    * — every step a truncating integer division on BigInt (HUGEINT in
    * the oracle), so the fixed-point algorithm IS its own cross-engine
    * spec: no float enters at any iteration. Zero-win brands collapse
    * to strength 0 in sweep 1 and stay there, matching the MLE's
    * boundary behavior. Exposed for Round14Spec's planted-dominance
    * fixtures.
    */
  private[graft] def bradleyTerry(
      prefs: Seq[(String, String, Long)],
      iters: Int): Seq[(String, Long, Long, Long, Long)] = {
    val Q = BigInt("100000000000000") // 10^14
    val sym = prefs
      .flatMap { case (w, l, n) => Seq((w, l) -> n, (l, w) -> n) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val brands = sym.keys.flatMap(k => Seq(k._1, k._2)).toSeq.distinct.sorted
    val wins = prefs.groupMapReduce(_._1)(_._3)(_ + _)
      .withDefaultValue(0L)
    val comps = sym.toSeq.groupMapReduce(_._1._1)(_._2)(_ + _)
    require(wins.valuesIterator.sum > 0L, "bradleyTerry: no decided pairs")
    val target = BigInt(brands.size) * BigInt(1000000000L)
    var pi: Map[String, BigInt] =
      brands.map(_ -> BigInt(1000000000L)).toMap
    (1 to iters).foreach { _ =>
      val raw = brands.map { i =>
        val w = BigInt(wins(i))
        i -> (if (w == 0) BigInt(0)
              else {
                val den = sym.collect {
                  case ((a, b), n) if a == i =>
                    (BigInt(n) * Q) / (pi(a) + pi(b)).max(BigInt(1))
                }.sum
                (w * Q) / den
              })
      }.toMap
      val s = raw.values.sum
      pi = brands.map(i => i -> (raw(i) * target) / s).toMap
    }
    brands
      .sortBy(i => (-pi(i), i))
      .zipWithIndex
      .map { case (i, r) =>
        (i, wins(i), comps(i), pi(i).toLong, (r + 1).toLong)
      }
  }

  /** q269: BRADLEY–TERRY preference ranking — the reward-modeling /
    * RLHF data-prep primitive: turn pairwise "A preferred over B"
    * observations into a global strength ranking (the model behind
    * chess Elo, LMSYS-style arena leaderboards, and preference-data
    * quality checks). Preferences here: within one order, brand A beats
    * brand B when A's total quantity is strictly higher — pair
    * enumeration blocks on the order key (an order holds ≤ 7 lines), so
    * the corpus-sized work is one broadcast join + two hash aggregates;
    * the MM fixed point runs on the |brands|²-bounded preference table
    * (625 rows at ANY corpus size — collected under a require guard,
    * the IVF-centroid/BPE-trainer bounded-driver discipline).
    */
  private def q269(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bq = Tables
      .lineitem(s, d)
      .join(
        broadcast(Tables.part(s, d).select($"p_partkey", $"p_brand")),
        $"l_partkey" === $"p_partkey")
      .groupBy($"l_orderkey", $"p_brand")
      .agg(sum($"l_quantity".cast("long")).as("qty"))
    val prefs = bq
      .as("x")
      .join(bq.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("x.p_brand") < col("y.p_brand") &&
          col("x.qty") =!= col("y.qty"))
      .select(
        when(col("x.qty") > col("y.qty"), col("x.p_brand"))
          .otherwise(col("y.p_brand")).as("win"),
        when(col("x.qty") > col("y.qty"), col("y.p_brand"))
          .otherwise(col("x.p_brand")).as("lose"))
      .groupBy($"win", $"lose")
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)]
      .collect()
    require(prefs.length <= 5000,
      s"q269: preference table ${prefs.length} exceeds the domain bound")
    bradleyTerry(prefs.toSeq, iters = 10)
      .toDF("brand", "wins", "n_comps", "pi_nano", "rank")
      .orderBy($"rank")
  }

  private val q269Sql = {
    val Q = "100000000000000"
    // AS MATERIALIZED everywhere on the chain: each sweep references
    // the previous strength table TWICE (both pair endpoints), so
    // default CTE inlining would expand the plan 2^iters-fold.
    def sweep(prev: String, n: Int): String =
      s"""d$n AS MATERIALIZED (
         |  SELECT s.a AS i,
         |    SUM((CAST(s.n AS HUGEINT) * $Q)
         |      // GREATEST(CAST(pa.pi AS HUGEINT) + pb.pi, 1)) AS den
         |  FROM symt s
         |  JOIN $prev pa ON pa.i = s.a JOIN $prev pb ON pb.i = s.b
         |  GROUP BY s.a),
         |r$n AS MATERIALIZED (
         |  SELECT w.i, CASE WHEN w.w = 0 THEN CAST(0 AS HUGEINT)
         |    ELSE (CAST(w.w AS HUGEINT) * $Q) // d.den END AS raw
         |  FROM wins w JOIN d$n d ON d.i = w.i),
         |p$n AS MATERIALIZED (
         |  SELECT i, CAST((raw * (SELECT nb FROM nbr) * 1000000000)
         |    // (SELECT SUM(raw) FROM r$n) AS BIGINT) AS pi
         |  FROM r$n)""".stripMargin
    val sweeps = (1 to 10)
      .map(n => sweep(if (n == 1) "p0" else s"p${n - 1}", n))
      .mkString(",\n")
    s"""WITH bq AS MATERIALIZED (
       |  SELECT l_orderkey, p_brand,
       |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1, 2),
       |prefs AS MATERIALIZED (
       |  SELECT CASE WHEN x.qty > y.qty THEN x.p_brand
       |              ELSE y.p_brand END AS win,
       |         CASE WHEN x.qty > y.qty THEN y.p_brand
       |              ELSE x.p_brand END AS lose,
       |         CAST(COUNT(*) AS BIGINT) AS n
       |  FROM bq x JOIN bq y ON x.l_orderkey = y.l_orderkey
       |    AND x.p_brand < y.p_brand AND x.qty <> y.qty
       |  GROUP BY 1, 2),
       |symt AS MATERIALIZED (
       |  SELECT a, b, CAST(SUM(n) AS BIGINT) AS n
       |  FROM (SELECT win AS a, lose AS b, n FROM prefs
       |        UNION ALL SELECT lose, win, n FROM prefs) u
       |  GROUP BY a, b),
       |brands AS (SELECT DISTINCT a AS i FROM symt),
       |nbr AS (SELECT CAST(COUNT(*) AS HUGEINT) AS nb FROM brands),
       |wins AS MATERIALIZED (
       |  SELECT b.i, CAST(COALESCE(SUM(p.n), 0) AS BIGINT) AS w
       |  FROM brands b LEFT JOIN prefs p ON p.win = b.i GROUP BY b.i),
       |comps AS (SELECT a AS i, CAST(SUM(n) AS BIGINT) AS c
       |          FROM symt GROUP BY a),
       |p0 AS (SELECT i, CAST(1000000000 AS BIGINT) AS pi FROM brands),
       |$sweeps
       |SELECT p.i AS brand, w.w AS wins, c.c AS n_comps,
       |  p.pi AS pi_nano,
       |  CAST(ROW_NUMBER() OVER (ORDER BY p.pi DESC, p.i) AS BIGINT)
       |    AS rank
       |FROM p10 p JOIN wins w ON w.i = p.i JOIN comps c ON c.i = p.i
       |ORDER BY rank""".stripMargin
  }

  // ---- q270: off-policy evaluation (IPS / SNIPS / DR) ----------------

  /** q270: OFF-POLICY EVALUATION of a recommendation policy from logged
    * bandit feedback — "what would the new policy's mean reward have
    * been?", answered from logs alone (Horvitz–Thompson / counterfactual
    * estimation, the standard readout before any A/B test): inverse-
    * propensity scoring (IPS), weight-clipped IPS, self-normalized IPS
    * (SNIPS), and the doubly-robust estimator (DR) over a per-(hour,
    * action) outcome model. The logged policy's propensities are the
    * known randomization k/10 with k = 1 + (hour + len(action)) mod 4;
    * the TARGET policy and the DR outcome model q̂ are both learned from
    * the even-epoch-day TRAIN half (q̂ = integer mean cents per (hour,
    * action); target = argmax_a q̂ with (q̂ DESC, action) tie order), and
    * all four estimators evaluate on the odd-day half.
    *
    * Exactness: inverse weights are integer micro-units 10⁷ div k;
    * every per-row term is a Long product; SNIPS' final ratio avoids
    * the >2⁶³ cross-product via the division identity
    * (q·10⁶ + (rem·10⁶) div den) ≡ (num·10⁶) div den. One row per
    * estimator. Scale: two hash aggregates over the events table plus a
    * 24×5-domain broadcast model — nothing corpus-sized survives the
    * first aggregate.
    */
  private def q270(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables
      .events(s, d)
      .select(
        expr(hrExpr).as("hr"),
        $"event_type".as("action"),
        expr(centsExpr).as("c"),
        (expr("unix_micros(ts) DIV 86400000000") % 2 === 0)
          .as("is_train"))
    val qhat = base
      .filter($"is_train")
      .groupBy($"hr", $"action")
      .agg(expr("SUM(c) DIV COUNT(*)").as("q"))
    val polW = Window.partitionBy($"hr").orderBy($"q".desc, $"action")
    val pol = qhat
      .withColumn("rn", row_number().over(polW))
      .filter($"rn" === 1)
      .select($"hr", $"action".as("pol_action"), $"q".as("q_pol"))
    val terms = base
      .filter(!$"is_train")
      .join(broadcast(pol), Seq("hr"), "left")
      .join(broadcast(qhat), Seq("hr", "action"), "left")
      .select(
        coalesce($"q", lit(0L)).as("qa"),
        coalesce($"q_pol", lit(0L)).as("qpi"),
        when($"action" === $"pol_action", 1L).otherwise(0L).as("ind"),
        $"c",
        expr("10000000 DIV (1 + (hr + length(action)) % 4)").as("w"))
    val agg = terms.agg(
      count(lit(1)).as("n"),
      sum($"ind" * $"c" * $"w").as("ips_num"),
      sum($"ind" * $"c" * least($"w", lit(4000000L))).as("clip_num"),
      sum($"ind" * $"w").as("sn_den"),
      sum($"qpi" * lit(1000000L) +
        $"ind" * $"w" * ($"c" - $"qa")).as("dr_num"))
    agg.select(
      explode(array(
        struct(lit("1_ips").as("estimator"), $"n".as("n_eval"),
          expr("ips_num DIV n").as("est_microcents")),
        struct(lit("2_clip_ips").as("estimator"), $"n".as("n_eval"),
          expr("clip_num DIV n").as("est_microcents")),
        struct(lit("3_snips").as("estimator"), $"n".as("n_eval"),
          expr("""(ips_num DIV GREATEST(sn_den, 1)) * 1000000 +
                 |((ips_num % GREATEST(sn_den, 1)) * 1000000)
                 |  DIV GREATEST(sn_den, 1)""".stripMargin)
            .as("est_microcents")),
        struct(lit("4_dr").as("estimator"), $"n".as("n_eval"),
          expr("dr_num DIV n").as("est_microcents")))).as("r"))
      .select($"r.estimator", $"r.n_eval", $"r.est_microcents")
      .orderBy($"estimator")
  }

  private val q270Sql =
    s"""WITH base AS (
       |  SELECT $hrSqlExpr AS hr, event_type AS action,
       |    $centsExpr AS c,
       |    (epoch_us(ts) // 86400000000) % 2 = 0 AS is_train
       |  FROM events),
       |qhat AS (
       |  SELECT hr, action,
       |    CAST(SUM(c) AS BIGINT) // COUNT(*) AS q
       |  FROM base WHERE is_train GROUP BY 1, 2),
       |pol AS (
       |  SELECT hr, action AS pol_action, q AS q_pol
       |  FROM (SELECT hr, action, q, ROW_NUMBER() OVER (PARTITION BY hr
       |          ORDER BY q DESC, action) AS rn FROM qhat) t
       |  WHERE rn = 1),
       |terms AS (
       |  SELECT COALESCE(qh.q, 0) AS qa, COALESCE(p.q_pol, 0) AS qpi,
       |    CASE WHEN b.action = p.pol_action THEN 1 ELSE 0 END AS ind,
       |    b.c, 10000000 // (1 + (b.hr + length(b.action)) % 4) AS w
       |  FROM base b
       |  LEFT JOIN pol p ON p.hr = b.hr
       |  LEFT JOIN qhat qh ON qh.hr = b.hr AND qh.action = b.action
       |  WHERE NOT b.is_train),
       |agg AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(SUM(ind * c * w) AS BIGINT) AS ips_num,
       |    CAST(SUM(ind * c * LEAST(w, 4000000)) AS BIGINT) AS clip_num,
       |    CAST(SUM(ind * w) AS BIGINT) AS sn_den,
       |    CAST(SUM(qpi * 1000000 + ind * w * (c - qa)) AS BIGINT)
       |      AS dr_num
       |  FROM terms)
       |SELECT '1_ips' AS estimator, n AS n_eval,
       |  ips_num // n AS est_microcents FROM agg
       |UNION ALL SELECT '2_clip_ips', n, clip_num // n FROM agg
       |UNION ALL SELECT '3_snips', n,
       |  (ips_num // GREATEST(sn_den, 1)) * 1000000 +
       |  ((ips_num % GREATEST(sn_den, 1)) * 1000000)
       |    // GREATEST(sn_den, 1) FROM agg
       |UNION ALL SELECT '4_dr', n, dr_num // n FROM agg
       |ORDER BY estimator""".stripMargin

  // ---- q294: out-of-fold target encoding ------------------------------

  /** Out-of-fold encoding core — exposed for Round14Spec's mechanical
    * leakage proof. Input rows `(cat, fold, t)` with integer target t;
    * output per (cat, fold): counts and the EB-smoothed out-of-fold
    * mean in micro units,
    *   enc = (S_cat−S_cell + m·prior_f) / (n_cat−n_cell + m),
    * where the smoothing prior for fold f is ITSELF out-of-fold (the
    * global mean over every row NOT in f) — so nothing the encoder
    * emits for fold f depends on any fold-f target, a property the
    * spec proves by perturbation. All integer: sums, truncating DIV on
    * micro units; Long overflow headroom is Σ|t|·10⁶ (~9·10¹² cents —
    * DECIMAL(38,0) is the stated upgrade path past that, the q274
    * note). Degenerate cells are total: a category confined to one
    * fold has n_excl = 0, raw NULL, enc = prior exactly.
    */
  private[graft] def oofEncoding(
      df: DataFrame, priorWeight: Long): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val m = priorWeight
    require(m > 0L, "oofEncoding: priorWeight must be positive")
    val cells = df.groupBy($"cat", $"fold")
      .agg(sum($"t").as("s"), count(lit(1)).as("n"))
    val byCat = cells.groupBy($"cat")
      .agg(sum($"s").as("cs"), sum($"n").as("cn"))
    val byFold = cells.groupBy($"fold")
      .agg(sum($"s").as("fs"), sum($"n").as("fn"))
    val g = cells.agg(sum($"s").as("gs"), sum($"n").as("gn"))
    cells
      .join(broadcast(byCat), Seq("cat"))
      .join(broadcast(byFold), Seq("fold"))
      .crossJoin(g)
      .select($"cat", $"fold", $"n".as("n_fold"),
        ($"cn" - $"n").as("n_excl"),
        expr("CASE WHEN cn - n = 0 THEN NULL ELSE " +
          "(cs - s) * 1000000 DIV (cn - n) END").as("raw_micro"),
        expr(s"CASE WHEN gn - fn = 0 THEN NULL ELSE " +
          s"((cs - s) * 1000000 + $m * ((gs - fs) * 1000000 DIV " +
          s"(gn - fn))) DIV (cn - n + $m) END").as("enc_micro"))
  }

  /** q294: OUT-OF-FOLD TARGET ENCODING — the leakage-safe categorical
    * encoder every tabular-ML data-prep pipeline ships (CatBoost-style
    * ordered/OOF statistics): replace a category by the smoothed mean
    * of the target over all OTHER folds, so the feature a training row
    * sees never contains its own label. Folds are deterministic md5
    * buckets of the event id (the q192/q219 draw device), category =
    * event_type, target = integer cents. Two event-cardinality hash
    * aggregates (cells + their rollups) and broadcast joins — nothing
    * downstream exceeds |cats|·|folds| rows.
    */
  private def q294(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_type".as("cat"),
        (expr("conv(substring(md5(cast(cast(event_id as string) " +
          "as binary)), 1, 8), 16, 10)").cast("long") % 5L).as("fold"),
        expr(centsExpr).as("t"))
      .transform(df => oofEncoding(df, priorWeight = 100L))
      .select($"cat".as("event_type"), $"fold", $"n_fold", $"n_excl",
        $"raw_micro", $"enc_micro")
      .orderBy($"event_type", $"fold")
  }

  private val q294Sql =
    s"""WITH r AS (
      |  SELECT event_type AS cat,
      |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 5 AS fold,
      |    $centsExpr AS t
      |  FROM events),
      |cells AS (
      |  SELECT cat, fold, CAST(SUM(t) AS BIGINT) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM r GROUP BY 1, 2),
      |bycat AS (
      |  SELECT cat, CAST(SUM(s) AS BIGINT) AS cs,
      |    CAST(SUM(n) AS BIGINT) AS cn
      |  FROM cells GROUP BY 1),
      |byfold AS (
      |  SELECT fold, CAST(SUM(s) AS BIGINT) AS fs,
      |    CAST(SUM(n) AS BIGINT) AS fn
      |  FROM cells GROUP BY 1),
      |g AS (
      |  SELECT CAST(SUM(s) AS BIGINT) AS gs,
      |    CAST(SUM(n) AS BIGINT) AS gn
      |  FROM cells)
      |SELECT c.cat AS event_type, c.fold AS fold, c.n AS n_fold,
      |  bc.cn - c.n AS n_excl,
      |  CASE WHEN bc.cn - c.n = 0 THEN NULL ELSE
      |    CAST((bc.cs - c.s) * 1000000 // (bc.cn - c.n) AS BIGINT)
      |  END AS raw_micro,
      |  CASE WHEN g.gn - bf.fn = 0 THEN NULL ELSE
      |    CAST(((bc.cs - c.s) * 1000000 + 100 *
      |      ((g.gs - bf.fs) * 1000000 // (g.gn - bf.fn))) //
      |      (bc.cn - c.n + 100) AS BIGINT)
      |  END AS enc_micro
      |FROM cells c
      |JOIN bycat bc ON bc.cat = c.cat
      |JOIN byfold bf ON bf.fold = c.fold, g
      |ORDER BY event_type, c.fold""".stripMargin

  // ---- q343/q344: text-generation metrics (BLEU / ROUGE) -------------

  /** Per-(doc, n, gram) candidate-side counts for n = 1..`maxN` over a
    * token-array column — the shared gram frame of q343/q344. One
    * nested-transform explode per row (grams built where the text lives),
    * then a (doc, n, gram)-keyed hash aggregate; the join key IS the
    * blocking, never pair×pair. At 100 TB the gram STRING column swaps
    * for the q124 kernel's 8-byte hashes with the same frame shape.
    */
  private def gramCounts(
      toks: DataFrame, arrCol: String, maxN: Int): DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    toks
      .select($"doc_id", explode(expr(
        s"""flatten(transform(sequence(1, $maxN), n ->
           |  transform(sequence(1, size($arrCol) - n + 1), i ->
           |    struct(n AS n, concat_ws(' ', slice($arrCol, i, n)) AS g))))"""
          .stripMargin)).as("ng"))
      .groupBy($"doc_id", $"ng.n".as("n"), $"ng.g".as("g"))
      .agg(count(lit(1)).as("c"))
  }

  /** q343: CORPUS BLEU — the standard MT/generation n-gram metric
    * (Papineni et al. 2002) as ONE distributed plan: modified (clipped)
    * n-gram precision for n = 1..4 summed over the corpus, geometric
    * mean, brevity penalty. The evaluation pair fixture is deterministic
    * truncation — candidate = first 48 tokens, reference = first 40
    * tokens of the same document — so clipping, the n-gram ladder, and
    * the length ledger are all exercised (the tail 8 tokens repeat
    * earlier grams or miss) while cand_len ≥ ref_len holds by
    * construction, pinning BP = 1 on the exact CASE branch and keeping
    * the whole row transcendental-free.
    *
    * Exactness: clipped matches and totals are INTEGER aggregates
    * (Σ min(c, r) via least over a left join); p_n, the geometric mean
    * `sqrt(sqrt(p1·p2·p3·p4))` and BLEU are IEEE-exact doubles built
    * from those integers in identical operand order in both engines
    * (÷, ×, and sqrt are correctly-rounded IEEE ops; exp sits on the
    * dead CASE branch).
    *
    * Scale: gram shuffle keyed by (doc, n, gram) — clipping is a
    * per-key least, the corpus rollup is map-side combinable; nothing
    * is ever pairwise across documents.
    */
  private def q343(s: SparkSession, d: String): DataFrame =
    corpusBleu(Tables.documents(s, d))

  /** The q343 statistic over any (doc_id, text) frame — exposed so
    * Round18bSpec can gate it against a driver-side reference BLEU on
    * controlled fixtures.
    */
  private[graft] def corpusBleu(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // the n-gram ladder (1..4 nested transforms) is the expensive part
    // and runs upstream of any exchange — spread a narrow scan first
    // (no-op at production split counts; see Scale.spreadIfNarrow)
    val toks = Scale.spreadIfNarrow(docs, col("doc_id"))
      .select($"doc_id", split($"text", " ").as("t"))
      .filter(size($"t") >= 4)
      .select($"doc_id", expr("slice(t, 1, 48)").as("ct"),
        expr("slice(t, 1, 40)").as("rt"))
    val clipped = gramCounts(toks, "ct", 4)
      .join(gramCounts(toks, "rt", 4).withColumnRenamed("c", "rc"),
        Seq("doc_id", "n", "g"), "left")
      .groupBy($"n")
      .agg(sum(least($"c", coalesce($"rc", lit(0L)))).as("clip"),
        sum($"c").as("tot"))
    val perN = clipped.agg(
      sum(when($"n" === 1, $"clip")).as("clip_1"),
      sum(when($"n" === 1, $"tot")).as("tot_1"),
      sum(when($"n" === 2, $"clip")).as("clip_2"),
      sum(when($"n" === 2, $"tot")).as("tot_2"),
      sum(when($"n" === 3, $"clip")).as("clip_3"),
      sum(when($"n" === 3, $"tot")).as("tot_3"),
      sum(when($"n" === 4, $"clip")).as("clip_4"),
      sum(when($"n" === 4, $"tot")).as("tot_4"))
    val lens = toks.agg(count(lit(1)).as("n_pairs"),
      sum(size($"ct")).as("cand_len"), sum(size($"rt")).as("ref_len"))
    lens.crossJoin(perN)
      .withColumn("p1", expr("CAST(clip_1 AS DOUBLE) / tot_1"))
      .withColumn("p2", expr("CAST(clip_2 AS DOUBLE) / tot_2"))
      .withColumn("p3", expr("CAST(clip_3 AS DOUBLE) / tot_3"))
      .withColumn("p4", expr("CAST(clip_4 AS DOUBLE) / tot_4"))
      .withColumn("bp", expr("CASE WHEN cand_len >= ref_len THEN 1.0 " +
        "ELSE exp(1.0 - CAST(ref_len AS DOUBLE) / cand_len) END"))
      .withColumn("bleu4", expr("bp * sqrt(sqrt(p1 * p2 * p3 * p4))"))
  }

  private val q343Sql =
    """WITH toks AS (
      |  SELECT doc_id, t[1:48] AS ct, t[1:40] AS rt
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |  WHERE len(t) >= 4),
      |cg AS (
      |  SELECT doc_id, n, array_to_string(ct[i:i+n-1], ' ') AS g,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT doc_id, ct, n.n AS n,
      |          unnest(generate_series(1, len(ct) - n.n + 1)) AS i
      |        FROM toks JOIN generate_series(1, 4) n(n) ON TRUE) x
      |  GROUP BY 1, 2, 3),
      |rg AS (
      |  SELECT doc_id, n, array_to_string(rt[i:i+n-1], ' ') AS g,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT doc_id, rt, n.n AS n,
      |          unnest(generate_series(1, len(rt) - n.n + 1)) AS i
      |        FROM toks JOIN generate_series(1, 4) n(n) ON TRUE) x
      |  GROUP BY 1, 2, 3),
      |cl AS (
      |  SELECT n, CAST(SUM(LEAST(c, COALESCE(rc, 0))) AS BIGINT) AS clip,
      |    CAST(SUM(c) AS BIGINT) AS tot
      |  FROM cg LEFT JOIN (SELECT doc_id, n, g, c AS rc FROM rg)
      |    USING (doc_id, n, g)
      |  GROUP BY n),
      |pern AS (
      |  SELECT SUM(CASE WHEN n = 1 THEN clip END) AS clip_1,
      |    SUM(CASE WHEN n = 1 THEN tot END) AS tot_1,
      |    SUM(CASE WHEN n = 2 THEN clip END) AS clip_2,
      |    SUM(CASE WHEN n = 2 THEN tot END) AS tot_2,
      |    SUM(CASE WHEN n = 3 THEN clip END) AS clip_3,
      |    SUM(CASE WHEN n = 3 THEN tot END) AS tot_3,
      |    SUM(CASE WHEN n = 4 THEN clip END) AS clip_4,
      |    SUM(CASE WHEN n = 4 THEN tot END) AS tot_4
      |  FROM cl),
      |lens AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |    CAST(SUM(len(ct)) AS BIGINT) AS cand_len,
      |    CAST(SUM(len(rt)) AS BIGINT) AS ref_len
      |  FROM toks)
      |SELECT n_pairs, cand_len, ref_len,
      |  CAST(clip_1 AS BIGINT) AS clip_1, CAST(tot_1 AS BIGINT) AS tot_1,
      |  CAST(clip_2 AS BIGINT) AS clip_2, CAST(tot_2 AS BIGINT) AS tot_2,
      |  CAST(clip_3 AS BIGINT) AS clip_3, CAST(tot_3 AS BIGINT) AS tot_3,
      |  CAST(clip_4 AS BIGINT) AS clip_4, CAST(tot_4 AS BIGINT) AS tot_4,
      |  CAST(clip_1 AS DOUBLE) / tot_1 AS p1,
      |  CAST(clip_2 AS DOUBLE) / tot_2 AS p2,
      |  CAST(clip_3 AS DOUBLE) / tot_3 AS p3,
      |  CAST(clip_4 AS DOUBLE) / tot_4 AS p4,
      |  CASE WHEN cand_len >= ref_len THEN 1.0
      |    ELSE exp(1.0 - CAST(ref_len AS DOUBLE) / cand_len) END AS bp,
      |  (CASE WHEN cand_len >= ref_len THEN 1.0
      |    ELSE exp(1.0 - CAST(ref_len AS DOUBLE) / cand_len) END)
      |  * sqrt(sqrt((CAST(clip_1 AS DOUBLE) / tot_1)
      |            * (CAST(clip_2 AS DOUBLE) / tot_2)
      |            * (CAST(clip_3 AS DOUBLE) / tot_3)
      |            * (CAST(clip_4 AS DOUBLE) / tot_4))) AS bleu4
      |FROM lens CROSS JOIN pern""".stripMargin

  /** q344: ROUGE-1 / ROUGE-2 — the summarization-eval recall family
    * next to q343's precision-first BLEU, macro-averaged per language.
    * The pair fixture is NEIGHBOUR pairing: each document's reference is
    * the NEXT doc_id within its (lang, source) shard (a partitioned
    * lead window — deterministic, and the overlap is genuine
    * cross-document vocabulary overlap, so precision/recall sit in the
    * interior of (0,1) rather than the truncation fixture's near-1
    * band).
    *
    * Exactness: per-pair overlap/totals are integers; per-pair
    * P, R, F1 = (2·P·R)/(P+R) are IEEE doubles from those integers in
    * identical operand order; the corpus macro-average floors each F1
    * to 1e-9 units (floor, never round — the engines' CAST rounding
    * rules differ) and integer-sums them order-free, dividing once at
    * the end (q254's fixed-point discipline).
    *
    * Scale: one lead window partitioned by (lang, source), gram work
    * keyed by (pair, n, gram) exactly as q343 — no cross-pair work.
    */
  private def q344(s: SparkSession, d: String): DataFrame =
    rougeN(Tables.documents(s, d))

  /** The q344 statistic over any (lang, source, doc_id, text) frame —
    * exposed for Round18bSpec's reference-F1 fixtures.
    */
  /** Neighbour evaluation pairs — each doc's reference is the NEXT
    * doc_id within its (lang, source) shard (one partitioned lead
    * window). The ONE pairing shared by q344 and q352, so the two
    * ROUGE variants cannot drift onto different pair sets.
    */
  private def neighborPairs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select($"lang", $"source", $"doc_id", split($"text", " ").as("tk"))
      .filter(size($"tk") >= 2)
      .withColumn("rtk", lead($"tk", 1).over(
        Window.partitionBy($"lang", $"source").orderBy($"doc_id")))
      .filter($"rtk".isNotNull)
      .select($"lang", $"doc_id", $"tk".as("ct"), $"rtk".as("rt"))
  }

  private[graft] def rougeN(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // neighborPairs leaves the frame on its few (lang, source) window
    // partitions; both gram ladders below are per-row-expensive, so
    // re-spread by doc before them (layout-adaptive — no-op at scale)
    val pairs = Scale.spreadIfNarrow(neighborPairs(docs), col("doc_id"))
    val cand = gramCounts(pairs, "ct", 2)
    val ref  = gramCounts(pairs, "rt", 2).withColumnRenamed("c", "rc")
    val perPair = cand.join(ref, Seq("doc_id", "n", "g"), "left")
      .groupBy($"doc_id", $"n")
      .agg(sum(least($"c", coalesce($"rc", lit(0L)))).as("ov"),
        sum($"c").as("ctot"))
      .join(ref.groupBy($"doc_id", $"n").agg(sum($"rc").as("rtot")),
        Seq("doc_id", "n"))
      .withColumn("f1", expr(
        """CASE WHEN ov > 0 THEN
          |  (2.0 * (CAST(ov AS DOUBLE) / ctot) * (CAST(ov AS DOUBLE) / rtot))
          |  / ((CAST(ov AS DOUBLE) / ctot) + (CAST(ov AS DOUBLE) / rtot))
          |ELSE 0.0 END""".stripMargin))
      .withColumn("f1_e9", expr("CAST(FLOOR(f1 * 1e9) AS BIGINT)"))
    perPair
      .join(pairs.select($"doc_id", $"lang"), Seq("doc_id"))
      .groupBy($"lang")
      .agg(count(when($"n" === 1, 1)).as("n_pairs"),
        sum(when($"n" === 1, $"f1_e9")).as("r1_f1_e9"),
        sum(when($"n" === 2, $"f1_e9")).as("r2_f1_e9"))
      .withColumn("r1_macro_f1",
        expr("CAST(r1_f1_e9 AS DOUBLE) / (1e9 * n_pairs)"))
      .withColumn("r2_macro_f1",
        expr("CAST(r2_f1_e9 AS DOUBLE) / (1e9 * n_pairs)"))
      .orderBy($"lang")
  }

  private val q344Sql =
    """WITH base AS (
      |  SELECT lang, source, doc_id, string_split(text, ' ') AS tk
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |pairs AS (
      |  SELECT lang, doc_id, tk AS ct, rtk AS rt
      |  FROM (SELECT lang, doc_id, tk,
      |          LEAD(tk) OVER (PARTITION BY lang, source
      |                         ORDER BY doc_id) AS rtk
      |        FROM base)
      |  WHERE rtk IS NOT NULL),
      |cg AS (
      |  SELECT doc_id, n, array_to_string(ct[i:i+n-1], ' ') AS g,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT doc_id, ct, n.n AS n,
      |          unnest(generate_series(1, len(ct) - n.n + 1)) AS i
      |        FROM pairs JOIN generate_series(1, 2) n(n) ON TRUE) x
      |  GROUP BY 1, 2, 3),
      |rg AS (
      |  SELECT doc_id, n, array_to_string(rt[i:i+n-1], ' ') AS g,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT doc_id, rt, n.n AS n,
      |          unnest(generate_series(1, len(rt) - n.n + 1)) AS i
      |        FROM pairs JOIN generate_series(1, 2) n(n) ON TRUE) x
      |  GROUP BY 1, 2, 3),
      |pp AS (
      |  SELECT cg.doc_id, cg.n,
      |    CAST(SUM(LEAST(cg.c, COALESCE(rr.rc, 0))) AS BIGINT) AS ov,
      |    CAST(SUM(cg.c) AS BIGINT) AS ctot
      |  FROM cg LEFT JOIN (SELECT doc_id, n, g, c AS rc FROM rg) rr
      |    USING (doc_id, n, g)
      |  GROUP BY 1, 2),
      |rtt AS (
      |  SELECT doc_id, n, CAST(SUM(c) AS BIGINT) AS rtot
      |  FROM rg GROUP BY 1, 2),
      |f AS (
      |  SELECT pp.doc_id, pp.n,
      |    CAST(FLOOR((CASE WHEN ov > 0 THEN
      |      (2.0 * (CAST(ov AS DOUBLE) / ctot) * (CAST(ov AS DOUBLE) / rtot))
      |      / ((CAST(ov AS DOUBLE) / ctot) + (CAST(ov AS DOUBLE) / rtot))
      |    ELSE 0.0 END) * 1e9) AS BIGINT) AS f1_e9
      |  FROM pp JOIN rtt USING (doc_id, n))
      |SELECT lang,
      |  CAST(COUNT(CASE WHEN n = 1 THEN 1 END) AS BIGINT) AS n_pairs,
      |  CAST(SUM(CASE WHEN n = 1 THEN f1_e9 END) AS BIGINT) AS r1_f1_e9,
      |  CAST(SUM(CASE WHEN n = 2 THEN f1_e9 END) AS BIGINT) AS r2_f1_e9,
      |  CAST(SUM(CASE WHEN n = 1 THEN f1_e9 END) AS DOUBLE)
      |    / (1e9 * COUNT(CASE WHEN n = 1 THEN 1 END)) AS r1_macro_f1,
      |  CAST(SUM(CASE WHEN n = 2 THEN f1_e9 END) AS DOUBLE)
      |    / (1e9 * COUNT(CASE WHEN n = 1 THEN 1 END)) AS r2_macro_f1
      |FROM f JOIN (SELECT doc_id, lang FROM pairs) p USING (doc_id)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** q352: ROUGE-L — the LCS-based variant that actually headlines
    * summarization papers, completing the family next to q344's
    * n-gram ROUGE: per pair, P = LCS/|cand|, R = LCS/|ref|,
    * F = 2PR/(P+R), macro-averaged per language under q254's
    * fixed-point discipline (floor to 1e-9 units, integer-sum
    * order-free, one final IEEE division). The LCS runs in the
    * [[graft.functions.LcsLen]] codegen kernel — O(|c|·|r|) per pair
    * where the pair lives, nothing cross-pair ever shuffles. The
    * within-row DP dependency has no practical SQL form, so this is
    * spec-gated (kernel ≡ independent reference DP over every driver
    * pair, plus the F_L ≤ F_1 dominance ROUGE theory requires —
    * LCS ≤ unigram clipped overlap, and F is monotone in (P, R)).
    */
  private def q352(s: SparkSession, d: String): DataFrame =
    rougeL(Tables.documents(s, d))

  private[graft] def rougeL(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    neighborPairs(docs)
      .withColumn("lcs",
        graft.functions.LcsExprs.lcsLen(s, $"ct", $"rt").cast("long"))
      .withColumn("f1", expr(
        """CASE WHEN lcs > 0 THEN
          |  (2.0 * (CAST(lcs AS DOUBLE) / size(ct))
          |       * (CAST(lcs AS DOUBLE) / size(rt)))
          |  / ((CAST(lcs AS DOUBLE) / size(ct))
          |   + (CAST(lcs AS DOUBLE) / size(rt)))
          |ELSE 0.0 END""".stripMargin))
      .withColumn("f1_e9", expr("CAST(FLOOR(f1 * 1e9) AS BIGINT)"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"lcs").as("lcs_total"),
        sum($"f1_e9").as("rl_f1_e9"))
      .withColumn("rl_macro_f1",
        expr("CAST(rl_f1_e9 AS DOUBLE) / (1e9 * n_pairs)"))
      .orderBy($"lang")
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("q343_corpus_bleu", q343, Some(q343Sql)),
    QueryDef("q344_rouge_n", q344, Some(q344Sql)),
    // ROUGE-L: the LCS DP has no SQL twin — Round18bSpec gates kernel
    // ≡ reference DP per pair and the F_L ≤ F_1 dominance
    QueryDef("q352_rouge_l", q352, None),
    QueryDef("q294_target_encoding", q294, Some(q294Sql)),
    QueryDef("q269_bradley_terry", q269, Some(q269Sql)),
    QueryDef("q270_offpolicy_eval", q270, Some(q270Sql)),
    QueryDef("q240_roc_auc", q240, Some(q240Sql)),
    // incremental state-store maintenance of the SAME metric: the
    // oracle is q240's SQL over the full table — merge ≡ recompute
    QueryDef("q260_incremental_auc", q260, Some(q240Sql)),
    QueryDef("q241_gains_table", q241, Some(q241Sql)),
    QueryDef("q242_mann_whitney", q242, Some(q242Sql)),
    QueryDef("q243_bh_fdr", q243, Some(q243Sql)),
    QueryDef("q244_shapley_attribution", q244, Some(q244Sql)),
    QueryDef("q245_logrank_test", q245, Some(q245Sql)),
    QueryDef("q246_psi_drift", q246, Some(q246Sql)),
    QueryDef("q247_isotonic_calibration", q247, Some(q247Sql)),
    QueryDef("q248_weighted_quantiles", q248, Some(q248Sql)),
    QueryDef("q250_diff_in_diff", q250, Some(q250Sql)),
    QueryDef("q251_msprt_monitor", q251, Some(q251Sql)),
    // the monitor LIVE: streaming day maturation + stateful cumulative
    // fold, hash-verified against the SAME SQL as the batch closed form
    QueryDef("q256_stream_msprt",
      (s, d) => graft.streaming.Streams.streamMsprt(s, d),
      Some(q251Sql)),
    // the drift monitor LIVE: MapState histogram snapshots, read side
    // through the SHARED psiFromBinned plan — oracle is q246's SQL
    QueryDef("q276_stream_psi",
      (s, d) => graft.streaming.Streams.streamPsi(s, d),
      Some(q246Sql)),
    QueryDef("q252_qini_uplift", q252, Some(q252Sql)),
    QueryDef("q254_ljung_box", q254, Some(q254Sql)),
    QueryDef("q255_eb_shrinkage", q255, Some(q255Sql)),
    QueryDef("q257_conformal_intervals", q257, Some(q257Sql)),
    QueryDef("q259_post_stratification", q259, Some(q259Sql)),
  )
}
