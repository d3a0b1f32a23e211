package graft.ops

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data pipeline operators over `documents` / `embeddings` —
  * the corpus-preparation surface a 100 TB pretraining run needs beyond
  * per-document text stats (`ops/Text.scala`) and sketch dedup
  * (`ops/Dedup.scala`):
  *
  *   - deterministic train/val/test splits (content-hash bucketing — no
  *     RNG, so any executor, any partitioning, any rerun lands every doc
  *     in the same split; the property that makes a split reproducible
  *     across a 1000-node cluster);
  *   - sequence packing: explode documents into fixed-token-budget
  *     chunks (the pretokenization shard shape), one codegen'd
  *     `transform`+`explode` — no UDFs, no shuffle until the caller
  *     aggregates;
  *   - exact within-block embedding near-dup pairs — the oracle-checkable
  *     exact twin of the sign-LSH path (`Vectors.annPairs`): blocking on
  *     a cheap equality key bounds the pair space the same way LSH
  *     buckets do, but stays reproducible in ANSI SQL;
  *   - bounded edit-distance fuzzy matching within a blocking key (the
  *     record-linkage shape: never all-pairs, block → pairwise inside
  *     the block → aggregate).
  *
  * All pure Catalyst expressions; every query ends in a total ORDER BY
  * for the DuckDB hash compare.
  */
object Corpus {

  /** Deterministic split id from the first hex digit of md5(doc_id):
    * '0'..'b' → train (12/16), 'c'..'d' → val (2/16), else test (2/16).
    * Pure string compare on the hash prefix — both engines produce the
    * identical lowercase hex, so no integer parsing is needed.
    */
  /** The library's word-bigram framing over a `toks` array column —
    * ONE definition consumed by q68/q79/q132 (three call sites
    * previously pasted the expr text; a framing fix must hit all of
    * them at once or their oracles desynchronize). Callers with <2-token
    * rows filtered out may use it directly; q79 wraps it in its own
    * empty-guard CASE.
    */
  private[ops] val bigramsExpr: String =
    "transform(sequence(0, size(toks) - 2), " +
      "i -> concat(toks[i], ' ', toks[i + 1]))"

  def splitCol(id: Column): Column = {
    val h = substring(md5(id.cast("string").cast("binary")), 1, 1)
    when(h <= "b", "train").when(h <= "d", "val").otherwise("test")
  }

  /** q53: split the corpus and profile each split — doc counts, token
    * mass, and a content checksum (min fingerprint) proving the split is
    * stable across engines. At 100 TB this is a projection + one
    * hash-agg on a 3-value key: map-side partial aggregation collapses
    * it before the shuffle.
    */
  private def q53(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables
      .documents(s, d)
      .withColumn("split", splitCol($"doc_id"))
      .withColumn("n_tokens", size(split($"text", " ")))
      .groupBy($"split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tokens").cast("long").as("sum_tokens"),
        min(md5($"text".cast("binary"))).as("min_fp"),
      )
      .orderBy($"split")
  }

  private val q53Sql =
    """SELECT split, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
      |  MIN(fp) AS min_fp
      |FROM (SELECT
      |        CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
      |               THEN 'train'
      |             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd'
      |               THEN 'val'
      |             ELSE 'test' END AS split,
      |        len(string_split(text, ' ')) AS n_tokens,
      |        md5(text) AS fp
      |      FROM documents) t
      |GROUP BY split ORDER BY split""".stripMargin

  /** q54: sequence packing — explode each document into chunks of
    * `chunkTokens` whitespace tokens (last chunk ragged), with a per-chunk
    * fingerprint. The whole transform is a single codegen'd projection +
    * generator (no shuffle, no UDF): `sequence` builds the chunk index
    * range, `slice` takes each token window. This is the pretokenizer
    * shard step: downstream a writer would `partitionBy(split)` these
    * chunks straight to parquet.
    */
  def packChunks(docs: DataFrame, chunkTokens: Int): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .withColumn("toks", toks)
      .withColumn(
        "chunk_id",
        explode(
          sequence(lit(0),
            ceil(size(col("toks")) / lit(chunkTokens.toDouble))
              .cast("int") - 1)),
      )
      .withColumn("chunk",
        array_join(
          slice(col("toks"), col("chunk_id") * chunkTokens + 1,
            lit(chunkTokens)),
          " "))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        size(split(col("chunk"), " ")).cast("long").as("n_chunk_tokens"),
        md5(col("chunk").cast("binary")).as("chunk_fp"),
      )
  }

  private def q54(s: SparkSession, d: String): DataFrame =
    packChunks(Tables.documents(s, d), chunkTokens = 16)
      .orderBy(col("doc_id"), col("chunk_id"))

  private val q54Sql =
    """SELECT doc_id, gs AS chunk_id,
      |  len(string_split(chunk, ' ')) AS n_chunk_tokens,
      |  md5(chunk) AS chunk_fp
      |FROM (
      |  SELECT doc_id, gs,
      |    array_to_string(toks[gs*16+1 : gs*16+16], ' ') AS chunk
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |        FROM documents) d,
      |    LATERAL (SELECT unnest(generate_series(0,
      |      CAST(ceil(len(toks) / 16.0) AS INT) - 1)) AS gs) g) t
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** q55: exact embedding near-dup pairs within a blocking key (label).
    * The oracle-checkable exact twin of `Vectors.annPairs`: blocking
    * bounds the pair space like LSH buckets do (never all-pairs across
    * the corpus), but with an equality key DuckDB reproduces. The join
    * carries only (block, id, vector); cosine runs in the codegen'd
    * `FloatVecCosine` kernel on the joined rows.
    */
  def blockedNearDupPairs(
      embeddings: DataFrame,
      minCosine: Double,
  ): DataFrame = {
    val spark = embeddings.sparkSession
    val slim = embeddings.select(
      col("label"), col("vec_id"), col("embedding"))
    val l = slim.select(col("label"), col("vec_id").as("a"),
      col("embedding").as("ea"))
    val r = slim.select(col("label"), col("vec_id").as("b"),
      col("embedding").as("eb"))
    l.join(r, Seq("label"))
      .filter(col("a") < col("b"))
      .withColumn("cos", round(graft.functions.VectorExprs
        .vecCosine(spark, col("ea"), col("eb")), 4))
      .filter(col("cos") >= minCosine)
      .select(col("label"), col("a"), col("b"), col("cos"))
  }

  private def q55(s: SparkSession, d: String): DataFrame =
    blockedNearDupPairs(Tables.embeddings(s, d), minCosine = 0.3)
      .orderBy(col("cos").desc, col("a"), col("b"))
      .limit(100)

  private val q55Sql =
    """SELECT label, a, b, cos FROM (
      |  SELECT a.label AS label, a.vec_id AS a, b.vec_id AS b,
      |    ROUND(list_dot_product(CAST(a.embedding AS DOUBLE[]),
      |                           CAST(b.embedding AS DOUBLE[])) /
      |      (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
      |                             CAST(a.embedding AS DOUBLE[]))) *
      |       sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
      |                             CAST(b.embedding AS DOUBLE[])))), 4)
      |      AS cos
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id < b.vec_id) t
      |WHERE cos >= 0.3
      |ORDER BY cos DESC, a, b
      |LIMIT 100""".stripMargin

  /** q56: fuzzy matching by edit distance within a blocking key
    * (brand) — the record-linkage / catalog-dedup shape, rewritten
    * HISTOGRAM-FIRST (the r13-verdict fix for "fixed-cardinality
    * block ⟹ corpus² pairs"): edit distance is a function of the name
    * VALUES, so the within-brand pair statistics decompose exactly
    * over the (brand, name) count histogram joined to the
    * distinct-name distance grid — pairs(x,y) = cnt_x·cnt_y for
    * x < y and C(cnt_x, 2) on the diagonal, and every per-brand
    * aggregate (pair count, close count, min, sum-weighted mean) is a
    * weighted fold of vocabulary-grid rows. NO corpus pair is ever
    * enumerated: levenshtein runs |V|² times (|V| = name vocabulary,
    * a generator property — 64 here — not a corpus property) instead
    * of Σ_brand C(m,2) times (8M at sf0.1), and the corpus-sized work
    * is ONE groupBy. The mean stays an exact integer-sum ÷ integer-
    * count, so the output — and hence the all-pairs oracle SQL — is
    * byte-identical to the naive within-block form.
    */
  private def q56(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tables
      .part(s, d)
      .groupBy($"p_brand", $"p_name")
      .agg(count(lit(1)).as("cnt"))
    val l = hist.select($"p_brand", $"p_name".as("na"), $"cnt".as("ca"))
    val r = hist.select($"p_brand", $"p_name".as("nb"), $"cnt".as("cb"))
    l.join(r, Seq("p_brand"))
      .filter($"na" <= $"nb")
      .withColumn("npairs",
        when($"na" === $"nb", expr("ca * (ca - 1) DIV 2"))
          .otherwise($"ca" * $"cb"))
      .filter($"npairs" > 0L)
      .withColumn("dist", levenshtein($"na", $"nb"))
      .groupBy($"p_brand")
      .agg(
        sum($"npairs").as("n_pairs"),
        sum(when($"dist" <= 4, $"npairs").otherwise(0L)).as("n_close"),
        min($"dist").cast("long").as("min_dist"),
        round(sum($"dist" * $"npairs").cast("double") /
          sum($"npairs").cast("double"), 4).as("avg_dist"),
      )
      .orderBy($"p_brand")
  }

  private val q56Sql =
    """SELECT p_brand, COUNT(*) AS n_pairs,
      |  CAST(SUM(CASE WHEN dist <= 4 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_close,
      |  CAST(MIN(dist) AS BIGINT) AS min_dist,
      |  ROUND(AVG(dist), 4) AS avg_dist
      |FROM (
      |  SELECT a.p_brand AS p_brand,
      |    levenshtein(a.p_name, b.p_name) AS dist
      |  FROM part a JOIN part b
      |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey) t
      |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  /** Per-language keep-fraction for the q60 mixture (the "data mixture"
    * weights of a pretraining corpus: upsample-by-omission — here
    * en=1.0, de/es=0.5, fr/zh=0.25).
    */
  private val mixCutoffs: Seq[(String, String)] =
    Seq("de" -> "8000", "es" -> "8000", "fr" -> "4000", "zh" -> "4000")

  /** Deterministic sampling predicate: keep a doc iff the first 4 hex
    * digits of md5("mix:" + doc_id) fall under its language's cutoff
    * (0x8000/0x10000 = 1/2, 0x4000 = 1/4; 'en' keeps everything). Pure
    * string compare on the hash prefix — same reproducibility contract
    * as [[splitCol]]: no RNG, no placement dependence, and the salt
    * ("mix:") makes the draw independent of the train/val/test draw.
    */
  def mixKeep(id: Column, lang: Column): Column = {
    val h = substring(
      md5(concat(lit("mix:"), id.cast("string")).cast("binary")), 1, 4)
    mixCutoffs.foldLeft(lang === "en") { case (acc, (l, cut)) =>
      acc || (lang === l && h < cut)
    }
  }

  /** q60: corpus mixing — profile the post-mixture corpus per language:
    * kept docs, realized rate, surviving token mass, and a content
    * checksum over the kept set. One projection + hash-agg; the filter
    * is a codegen'd expression, so at 100 TB the mixture is applied in
    * the scan stage with nothing materialized.
    */
  private def q60(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables
      .documents(s, d)
      .withColumn("keep", mixKeep($"doc_id", $"lang"))
      .withColumn("n_tokens", size(split($"text", " ")))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"keep".cast("long")).as("n_kept"),
        round(avg($"keep".cast("double")), 4).as("rate"),
        sum(when($"keep", $"n_tokens").otherwise(0)).cast("long")
          .as("kept_tokens"),
        min(when($"keep", md5($"text".cast("binary")))).as("min_kept_fp"),
      )
      .orderBy($"lang")
  }

  private val q60Sql = {
    val cases = mixCutoffs
      .map { case (l, cut) => s"WHEN lang = '$l' THEN h < '$cut'" }
      .mkString("\n      |            ")
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  ROUND(AVG(CASE WHEN keep THEN 1.0 ELSE 0.0 END), 4) AS rate,
       |  CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
       |    AS kept_tokens,
       |  MIN(CASE WHEN keep THEN fp END) AS min_kept_fp
       |FROM (SELECT lang,
       |        CASE WHEN lang = 'en' THEN TRUE
       |            $cases
       |            ELSE FALSE END AS keep,
       |        len(string_split(text, ' ')) AS n_tokens,
       |        md5(text) AS fp
       |      FROM (SELECT *,
       |              substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4)
       |                AS h
       |            FROM documents) raw) t
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** q64: corpus-level TF-IDF top terms, in FIXED-POINT arithmetic so the
    * score is exact across engines: `idf_ppm = (1e6 * N) DIV df` is pure
    * integer, and the final score is ONE double multiplication of two
    * exactly-representable integers — IEEE-deterministic, unlike a
    * float `ln(N/df)` whose last ulp differs between libm builds, and
    * unlike summed doubles whose value depends on reduction order.
    *
    * Plan shape at 100 TB: explode → one hash-agg on `term` computing
    * tf (count) and df (count distinct doc) together — partial map-side
    * aggregation collapses the token stream before the single shuffle;
    * N arrives as a broadcast 1-row cross join (no driver collect);
    * top-k is TakeOrderedAndProject, never a global sort.
    */
  private def q64(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val toks = docs.select($"doc_id", explode(split($"text", " ")).as("term"))
    val stats = toks
      .groupBy($"term")
      .agg(count(lit(1)).as("tf"), count_distinct($"doc_id").as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    stats
      .crossJoin(broadcast(n))
      .withColumn("idf_ppm", expr("(1000000 * n_docs) DIV df"))
      .select(
        $"term",
        $"tf",
        $"df",
        ($"tf".cast("double") * $"idf_ppm".cast("double")).as("score"),
      )
      .orderBy($"score".desc, $"term")
      .limit(20)
  }

  private val q64Sql =
    """SELECT term, tf, df,
      |  CAST(tf AS DOUBLE) * CAST((1000000 * n_docs) // df AS DOUBLE)
      |    AS score
      |FROM (SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
      |      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |            FROM documents) toks
      |      GROUP BY term) stats,
      |     (SELECT COUNT(*) AS n_docs FROM documents) n
      |ORDER BY score DESC, term LIMIT 20""".stripMargin

  /** q65: train/test contamination — for every test-split document, the
    * fraction of its distinct terms that also occur anywhere in the
    * train split. The decontamination check a pretraining pipeline runs
    * before trusting an eval set. Integer percent (`DIV`) keeps the
    * compare exact.
    *
    * Plan shape at 100 TB: the train vocabulary is `distinct` on a
    * single string column (map-side combine collapses repeats before
    * the shuffle); the probe is a left join on `term` — Spark picks
    * SMJ/shuffled-hash by size, and the vocabulary side, being
    * post-distinct, is the smaller one. Never all-pairs, never a
    * driver-side set.
    */
  private def q65(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables
      .documents(s, d)
      .withColumn("split", splitCol($"doc_id"))
      .select($"doc_id", $"split", explode(split($"text", " ")).as("term"))
      .distinct()
    val testToks = toks.filter($"split" === "test").select($"doc_id", $"term")
    val trainVocab = toks
      .filter($"split" === "train")
      .select($"term")
      .distinct()
      .withColumn("in_train", lit(1))
    testToks
      .join(trainVocab, Seq("term"), "left")
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_terms"),
        count($"in_train").as("n_overlap"),
      )
      .withColumn("contam_pct", expr("(100 * n_overlap) DIV n_terms"))
      .orderBy($"doc_id")
  }

  private val q65Sql =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN h <= 'b' THEN 'train'
      |         WHEN h <= 'd' THEN 'val' ELSE 'test' END AS split,
      |    term
      |  FROM (SELECT doc_id,
      |          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
      |          unnest(string_split(text, ' ')) AS term
      |        FROM documents) raw),
      |train_vocab AS (
      |  SELECT DISTINCT term FROM toks WHERE split = 'train')
      |SELECT doc_id, COUNT(*) AS n_terms,
      |  COUNT(v.term) AS n_overlap,
      |  (100 * COUNT(v.term)) // COUNT(*) AS contam_pct
      |FROM (SELECT doc_id, term FROM toks WHERE split = 'test') t
      |LEFT JOIN train_vocab v USING (term)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q124: sliding 13-gram train/test decontamination — the n-gram
    * upgrade of q65's vocabulary gate: a test document is contaminated
    * where an EXACT 13-token subsequence of it also appears anywhere in
    * the train split. Term overlap (q65) passes paraphrased test data;
    * subsequence overlap is what pretraining decontamination actually
    * checks (the GPT-3/PaLM 8–13-gram discipline).
    *
    * Plan shape at 100 TB: each side is shingled by the native
    * [[graft.functions.TextHashExprs]] kernel into DISTINCT 64-bit
    * 13-gram hashes per document — the 13-word gram STRING never leaves
    * the row it was read from, so the shuffle moves 8-byte longs, not
    * ~100-byte text. The probe is a hash-partitioned left join of
    * test-side (doc, gram-hash) against the post-distinct train gram-hash
    * table — the join's hash partitioning IS the blocking (never
    * corpus-wide pairs). Collision risk of hashed grams vs the oracle's
    * string grams is birthday-bounded: ~1e-11 at sf0.01, and at 100 TB
    * a collision only perturbs one count by 1 — the standard sketch
    * trade every production decontamination pipeline makes.
    *
    * The oracle is the exact STRING twin (split → windowed
    * array_to_string concat → distinct → left join), so the gate also
    * re-proves the kernel's gram framing (single-space split, empties
    * kept) against an independent engine. Docs shorter than 13 tokens
    * carry no 13-gram and are out of scope on both sides.
    */
  /** The decontamination gram table — (doc_id, split, 64-bit 13-gram
    * hash) — shared by q124 (reporting side) and q135 (removal side) so
    * the gram framing lives in ONE place per engine. Docs under `n`
    * tokens carry no n-gram and are out of scope on both sides.
    */
  private def splitGrams(s: SparkSession, d: String, n: Int): DataFrame =
    Tables
      .documents(s, d)
      .withColumn("split", splitCol(col("doc_id")))
      .filter(size(split(col("text"), " ")) >= n)
      .select(
        col("doc_id"),
        col("split"),
        explode(graft.functions.TextHashExprs.shingleHashes(s, col("text"), n))
          .as("gh"),
      )

  /** The identical table as DuckDB CTEs (`base`, `grams` with STRING
    * grams — the exact twin the hashed Spark side is verified against),
    * composed into both q124's and q135's oracles.
    */
  private val gram13CtesSql: String =
    """base AS (
      |  SELECT doc_id,
      |    CASE WHEN h <= 'b' THEN 'train'
      |         WHEN h <= 'd' THEN 'val' ELSE 'test' END AS split,
      |    t
      |  FROM (SELECT doc_id,
      |          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
      |          string_split(text, ' ') AS t
      |        FROM documents) raw
      |  WHERE len(t) >= 13),
      |grams AS (
      |  SELECT DISTINCT doc_id, split,
      |    array_to_string(t[i:i+12], ' ') AS gram
      |  FROM (SELECT doc_id, split, t,
      |          unnest(generate_series(1, len(t) - 12)) AS i
      |        FROM base) g)""".stripMargin

  private def q124(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grams = splitGrams(s, d, n = 13)
    val trainGrams = grams
      .filter($"split" === "train")
      .select($"gh")
      .distinct()
      .withColumn("hit", lit(1))
    grams
      .filter($"split" === "test")
      .select($"doc_id", $"gh")
      .join(trainGrams, Seq("gh"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"), count($"hit").as("n_contam"))
      .withColumn("contam_pct", expr("(100 * n_contam) DIV n_grams"))
      .orderBy($"doc_id")
  }

  private val q124Sql =
    s"""WITH $gram13CtesSql,
      |train_grams AS (SELECT DISTINCT gram FROM grams WHERE split = 'train')
      |SELECT doc_id, COUNT(*) AS n_grams, COUNT(tr.gram) AS n_contam,
      |  (100 * COUNT(tr.gram)) // COUNT(*) AS contam_pct
      |FROM (SELECT doc_id, gram FROM grams WHERE split = 'test') te
      |LEFT JOIN train_grams tr USING (gram)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- q301: fuzzy (MinHash) train/test decontamination --------------

  /** Fuzzy decontamination core — exposed for Round15Spec's planted-
    * paraphrase gate. `docs` carries (doc_id, split, text); returns the
    * per-TRAIN-doc ledger. Pipeline: word-3-gram shingles → 16 md5
    * MinHash components → 8-band×2-row LSH candidate join of TRAIN
    * against TEST signatures (at the J≈0.5 operating point 2-row bands
    * give P(miss) = (1−J²)⁸ ≈ 1%% where 4-row bands miss half; band
    * false-positives die in the signature verify) → signature-agreement verify (≥ `minMatches` of
    * 16 components ⇒ estimated Jaccard ≥ minMatches/16). The direction
    * is q124/q135's anti-join flipped onto q182's near-dup machinery:
    * screen the TRAIN corpus against the TEST set, so paraphrased
    * test-set leakage with NO shared 13-gram is still caught.
    *
    * The hash family here is md5-per-(permutation, shingle) — 16× the
    * scan cost of q182's single-pass codegen kernel — CHOSEN because it
    * is the cross-engine-replayable twin: DuckDB recomputes the exact
    * signatures, bands, candidates, and verdicts, so the whole ledger
    * is hash-gated, not spec-gated. The plan shape (band-join blocking,
    * candidate-only verify, per-doc ledger) is the production shape;
    * swapping the hash family back to the codegen kernel changes no
    * operator. Decontamination runs once per test-set release, so the
    * 16× scan constant buys exactness where it is cheapest to buy.
    */
  private[graft] def fuzzyDecontam(
      docs: DataFrame, minMatches: Int = 8): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // single-split corpora run the shingle explode + 16 md5 mins on one
    // core (r20: 4.2 s of single-task CPU); layout-adaptive spread, a
    // no-op when the scan already has >= cores splits (Scale helper)
    val toks = Scale.spreadIfNarrow(docs, col("doc_id"))
      .select($"doc_id", $"split", split($"text", " ").as("t"))
    val sh = toks
      .filter(size($"t") >= 3)
      .select($"doc_id", $"split",
        explode(expr("array_distinct(transform(sequence(0, size(t) - 3), " +
          "i -> concat_ws(' ', t[i], t[i + 1], t[i + 2])))")).as("sg"))
    // the 16 components are COLUMNS of one doc-grain map-side min
    // aggregate (16 md5s per shingle in the projection), not 16× the
    // shingle rows through a (doc, p)-keyed shuffle — the exploded
    // form shuffled 16·|shingles| rows where this shuffles |docs|
    val minCols = (0 until 16).map(p =>
      min(conv(substring(md5(concat(lit(s"$p|"), $"sg").cast("binary")),
        1, 15), 16, 10).cast("long")).as(s"m$p"))
    val sig = sh
      .groupBy($"doc_id", $"split")
      .agg(minCols.head, minCols.tail: _*)
      .localCheckpoint()
    val bands = sig
      .select($"doc_id", $"split",
        explode(array((0 until 8).map(b =>
          struct(lit(b).as("band"),
            concat_ws(":", col(s"m${2 * b}"), col(s"m${2 * b + 1}"))
              .as("bkey"))): _*)).as("bk"))
      .select($"doc_id", $"split", $"bk.band", $"bk.bkey")
    val cand = bands.filter($"split" === "train")
      .select($"doc_id".as("tr_doc"), $"band", $"bkey")
      .join(bands.filter($"split" === "test")
        .select($"doc_id".as("te_doc"), $"band", $"bkey"),
        Seq("band", "bkey"))
      .select($"tr_doc", $"te_doc").distinct()
    // verify = two doc-keyed equi-joins + ONE codegen row expression
    // summing 16 column equalities — no per-component rows anywhere
    val trSig = sig.filter($"split" === "train").select(
      $"doc_id".as("tr_doc") +:
        (0 until 16).map(p => col(s"m$p").as(s"a$p")): _*)
    val teSig = sig.filter($"split" === "test").select(
      $"doc_id".as("te_doc") +:
        (0 until 16).map(p => col(s"m$p").as(s"b$p")): _*)
    val hits = cand
      .join(trSig, Seq("tr_doc"))
      .join(teSig, Seq("te_doc"))
      .withColumn("m", (0 until 16).map(p =>
        when(col(s"a$p") === col(s"b$p"), 1L).otherwise(0L))
        .reduce(_ + _))
      .filter($"m" >= minMatches.toLong)
      .select($"tr_doc", $"te_doc")
    val led = hits.groupBy($"tr_doc")
      .agg(count(lit(1)).as("n_test_hits"), min($"te_doc").as("first_hit"))
    docs.filter($"split" === "train").select($"doc_id")
      .join(led.withColumnRenamed("tr_doc", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_test_hits", lit(0L)).as("n_test_hits"),
        $"first_hit",
        when($"n_test_hits".isNull, "keep").otherwise("drop").as("status"))
      .orderBy($"doc_id")
  }

  /** q301: FUZZY DECONTAMINATION — the r14-verdict gap between q124
    * (exact 13-gram decontamination: paraphrased test-set leakage
    * passes straight through) and q182 (fuzzy dedup, but within one
    * corpus): screen the TRAIN split against TEST MinHash signatures
    * and ledger every train doc whose estimated word-3-gram Jaccard to
    * any test doc clears 8/16. Round15Spec plants a paraphrase pair
    * (high shingle Jaccard, provably zero shared 13-grams) and proves
    * q301 catches what q124's machinery cannot. ABSENT-IN-REF.
    */
  private def q301(s: SparkSession, d: String): DataFrame =
    fuzzyDecontam(Tables.documents(s, d)
      .select(col("doc_id"), splitCol(col("doc_id")).as("split"),
        col("text")))

  private val q301Sql =
    """WITH toks AS (
      |  SELECT doc_id,
      |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
      |           THEN 'train'
      |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd'
      |           THEN 'val' ELSE 'test' END AS split,
      |    string_split(text, ' ') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, split,
      |    array_to_string(t[i:i+2], ' ') AS sg
      |  FROM (SELECT doc_id, split, t,
      |          unnest(generate_series(1, len(t) - 2)) AS i
      |        FROM toks WHERE len(t) >= 3) g),
      |sig AS MATERIALIZED (
      |  SELECT doc_id, split, p,
      |    MIN(CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '|' || sg),
      |      1, 15)) AS BIGINT)) AS minv
      |  FROM sh, generate_series(0, 15) q(p)
      |  GROUP BY 1, 2, 3),
      |bands AS (
      |  SELECT doc_id, split, p // 2 AS band,
      |    string_agg(CAST(minv AS VARCHAR), ':' ORDER BY p) AS bkey
      |  FROM sig GROUP BY 1, 2, 3),
      |cand AS (
      |  SELECT DISTINCT tr.doc_id AS tr_doc, te.doc_id AS te_doc
      |  FROM bands tr JOIN bands te
      |    ON tr.band = te.band AND tr.bkey = te.bkey
      |  WHERE tr.split = 'train' AND te.split = 'test'),
      |hits AS (
      |  SELECT c.tr_doc, c.te_doc
      |  FROM cand c
      |  JOIN sig a ON a.doc_id = c.tr_doc AND a.split = 'train'
      |  JOIN sig b ON b.doc_id = c.te_doc AND b.split = 'test'
      |    AND b.p = a.p
      |  GROUP BY 1, 2
      |  HAVING SUM(CASE WHEN a.minv = b.minv THEN 1 ELSE 0 END) >= 8),
      |led AS (
      |  SELECT tr_doc, CAST(COUNT(*) AS BIGINT) AS n_test_hits,
      |    MIN(te_doc) AS first_hit
      |  FROM hits GROUP BY 1)
      |SELECT t.doc_id,
      |  COALESCE(l.n_test_hits, 0) AS n_test_hits, l.first_hit,
      |  CASE WHEN l.tr_doc IS NULL THEN 'keep' ELSE 'drop' END AS status
      |FROM toks t LEFT JOIN led l ON l.tr_doc = t.doc_id
      |WHERE t.split = 'train'
      |ORDER BY t.doc_id""".stripMargin

  /** q144: overlapping sliding-window CHUNKING — the RAG/long-context
    * ingestion shape: each document becomes ceil((n−W)/S)+1 windows of
    * W=32 tokens at stride S=24 (8-token overlap), so every token
    * appears in ≥1 chunk and context is preserved across cut points.
    * Distinct from q54 (packing many docs into fixed shards, no
    * overlap) and q52 (strided frames over binary payloads): here the
    * unit is the retrieval chunk with doc provenance and deterministic
    * chunk ids.
    *
    * Pure per-row codegen (sequence → transform → slice → posexplode) —
    * zero shuffle until the final sort, so at 100 TB this is a scan-
    * shaped map with output ≈ (1 + overlap share) × input. The chunk
    * md5 doubles as the downstream dedup/embedding key.
    */
  private def q144(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (w, st) = (32, 24)
    Tables
      .documents(s, d)
      .withColumn("toks", split($"text", " "))
      .withColumn("n", size($"toks"))
      .withColumn("nch",
        when($"n" <= w, 1)
          .otherwise(expr(s"((n - $w + ${st - 1}) div $st) + 1")))
      .select(
        $"doc_id",
        posexplode(
          expr(s"transform(sequence(0, nch - 1), " +
            s"i -> array_join(slice(toks, i*$st+1, $w), ' '))")
        ).as(Seq("chunk_idx", "chunk")),
      )
      .select(
        $"doc_id",
        $"chunk_idx".cast("long").as("chunk_idx"),
        size(split($"chunk", " ")).cast("long").as("chunk_tokens"),
        md5($"chunk".cast("binary")).as("chunk_md5"),
      )
      .orderBy($"doc_id", $"chunk_idx")
  }

  private val q144Sql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents),
      |spans AS (
      |  SELECT doc_id, t, i AS chunk_idx,
      |         array_to_string(t[(i*24+1):(i*24+32)], ' ') AS chunk
      |  FROM (SELECT doc_id, t,
      |          unnest(generate_series(0,
      |            CASE WHEN n <= 32 THEN 0
      |                 ELSE (n - 32 + 23) // 24 END)) AS i
      |        FROM toks) g)
      |SELECT doc_id, chunk_idx,
      |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS chunk_tokens,
      |  md5(chunk) AS chunk_md5
      |FROM spans ORDER BY doc_id, chunk_idx""".stripMargin

  /** q141: bigram language-model quality scoring — the CCNet/KenLM-style
    * perplexity filter: train a bigram model on the TRAIN split, score
    * every TEST document by its mean transition probability under that
    * model. Pipelines use this to rank crawl text by "looks like the
    * reference corpus" — the model-based quality gate next to the
    * heuristic ones (q32 ratios, q61 TTR, q130 logit).
    *
    * Exact-arithmetic variant: the per-bigram score is the integer
    * conditional probability in ppm, `count(w1,w2) * 1e6 div count(w1)`
    * (prefix mass derived from the SAME bigram table, so probabilities
    * sum to ~1e6 per prefix), unseen bigrams score 0, and the document
    * score is the integer mean — no logs, no floats, so the cross-engine
    * hash compare is exact, while ranking is monotone with the
    * perplexity filter it stands in for.
    *
    * Plan shape at 100 TB: ONE bigram explode per side; the model is a
    * map-side-combinable hash-agg over (w1, w2) plus a w1 rollup derived
    * from the aggregated table (vocab²-bounded, far smaller than the
    * corpus); scoring is a hash-partitioned left join on the bigram key —
    * the join's partitioning is the blocking, never corpus-wide.
    */
  private def q141(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val big = Tables
      .documents(s, d)
      .withColumn("split", splitCol($"doc_id"))
      .withColumn("toks", split($"text", " "))
      .select(
        $"doc_id",
        $"lang",
        $"split",
        explode(
          expr("transform(sequence(0, size(toks)-2), " +
            "i -> struct(toks[i] AS w1, toks[i+1] AS w2))")).as("bg"),
      )
      .select($"doc_id", $"lang", $"split", $"bg.w1", $"bg.w2")
    val cnt = big
      .filter($"split" === "train")
      .groupBy($"w1", $"w2")
      .agg(count(lit(1)).as("cnt2"))
    val model = cnt
      .join(cnt.groupBy($"w1").agg(sum($"cnt2").as("cnt1")), "w1")
      .select($"w1", $"w2", expr("(cnt2 * 1000000) DIV cnt1").as("p_ppm"))
    big
      .filter($"split" === "test")
      .join(model, Seq("w1", "w2"), "left")
      .groupBy($"doc_id", $"lang")
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(coalesce($"p_ppm", lit(0L))).as("sum_ppm"),
      )
      .select(
        $"doc_id",
        $"lang",
        $"n_bigrams",
        expr("sum_ppm DIV n_bigrams").as("score_ppm"),
      )
      .orderBy($"doc_id")
  }

  private val q141Sql =
    """WITH base AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN h <= 'b' THEN 'train' WHEN h <= 'd' THEN 'val'
      |         ELSE 'test' END AS split, t
      |  FROM (SELECT doc_id, lang,
      |          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
      |          string_split(text, ' ') AS t FROM documents) raw),
      |big AS (
      |  SELECT doc_id, lang, split, t[i] AS w1, t[i+1] AS w2
      |  FROM (SELECT doc_id, lang, split, t,
      |          unnest(generate_series(1, len(t)-1)) AS i FROM base) g),
      |cnt AS (
      |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt2
      |  FROM big WHERE split = 'train' GROUP BY w1, w2),
      |model AS (
      |  SELECT w1, w2,
      |    (cnt2 * 1000000)
      |      // CAST(SUM(cnt2) OVER (PARTITION BY w1) AS BIGINT) AS p_ppm
      |  FROM cnt)
      |SELECT b.doc_id, b.lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      |  CAST(SUM(COALESCE(m.p_ppm, 0)) AS BIGINT) // COUNT(*) AS score_ppm
      |FROM big b LEFT JOIN model m USING (w1, w2)
      |WHERE b.split = 'test'
      |GROUP BY b.doc_id, b.lang ORDER BY b.doc_id""".stripMargin

  /** q68: duplicate-bigram repetition ratio per document — the
    * Gopher-style "fraction of repeated n-grams" quality filter. All
    * counts integer; the percent is integer division, so the compare is
    * exact. Pure per-row expression work (no shuffle at all until the
    * final sort): `transform` over an index `sequence` builds the bigram
    * list inside whole-stage codegen.
    */
  private def q68(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables
      .documents(s, d)
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 2)
      .withColumn("bigrams", expr(bigramsExpr))
      .select(
        $"doc_id",
        size($"bigrams").cast("long").as("n_bigrams"),
        size(array_distinct($"bigrams")).cast("long").as("n_distinct"),
      )
      .withColumn("dup_pct",
        expr("(100 * (n_bigrams - n_distinct)) DIV n_bigrams"))
      .orderBy($"doc_id")
  }

  private val q68Sql =
    """SELECT doc_id,
      |  CAST(len(bigrams) AS BIGINT) AS n_bigrams,
      |  CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct,
      |  (100 * (len(bigrams) - len(list_distinct(bigrams))))
      |    // len(bigrams) AS dup_pct
      |FROM (SELECT doc_id,
      |        list_transform(range(1, len(w)),
      |                       i -> w[i] || ' ' || w[i + 1]) AS bigrams
      |      FROM (SELECT doc_id, string_split(text, ' ') AS w
      |            FROM documents) t0
      |      WHERE len(w) >= 2) t
      |ORDER BY doc_id""".stripMargin

  /** q132: top-n-gram character concentration — the OTHER half of the
    * Gopher repetition rules, complementing q68: q68 measures how many
    * bigrams are duplicated ANYWHERE in the doc; this measures how much
    * of the document's character mass the SINGLE most frequent bigram
    * accounts for (boilerplate/spam pages repeat one phrase — their top
    * bigram covers a large char fraction even when overall dup ratio is
    * modest). Per doc: most frequent word-bigram under a total
    * deterministic order (count desc, then bigram desc — both engines
    * break ties identically), its char coverage as an integer percent of
    * doc chars; rolled up per lang with a repetitiveness flag count.
    *
    * Plan: explode bigrams → ONE (doc, bigram) hash-agg carrying the
    * per-doc constants (lang, n_chars) through min/max — map-side
    * combined — then a per-doc window over the surviving distinct
    * bigrams (bounded per doc) to pick rank 1, then the lang rollup.
    * Never a corpus-wide sort; the window partitions by doc_id.
    */
  private def q132(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy($"cnt".desc, $"bg".desc)
    // bigram explode + map-side agg run upstream of the first exchange;
    // spread a narrow scan across the cores first (no-op at scale)
    Scale.spreadIfNarrow(Tables.documents(s, d), $"doc_id")
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 2)
      .select(
        $"doc_id", $"lang", length($"text").cast("long").as("n_chars"),
        explode(expr(bigramsExpr)).as("bg"))
      .groupBy($"doc_id", $"bg")
      .agg(
        count(lit(1)).as("cnt"),
        min($"lang").as("lang"),
        min($"n_chars").as("n_chars"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .withColumn("top_pct",
        expr("(100 * cnt * length(bg)) DIV n_chars"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"top_pct").as("sum_top_pct"),
        sum(when($"top_pct" >= 10L, 1L).otherwise(0L)).as("n_repetitive"),
      )
      .orderBy($"lang")
  }

  private val q132Sql =
    """WITH b AS (
      |  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars,
      |    unnest(list_transform(range(1, len(w)),
      |                          i -> w[i] || ' ' || w[i + 1])) AS bg
      |  FROM (SELECT doc_id, lang, text, string_split(text, ' ') AS w
      |        FROM documents) t0
      |  WHERE len(w) >= 2),
      |c AS (
      |  SELECT doc_id, bg, COUNT(*) AS cnt,
      |    MIN(lang) AS lang, MIN(n_chars) AS n_chars
      |  FROM b GROUP BY doc_id, bg),
      |r AS (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY cnt DESC, bg DESC) AS rn
      |  FROM c),
      |p AS (
      |  SELECT lang, (100 * cnt * length(bg)) // n_chars AS top_pct
      |  FROM r WHERE rn = 1)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(top_pct) AS BIGINT) AS sum_top_pct,
      |  CAST(SUM(CASE WHEN top_pct >= 10 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_repetitive
      |FROM p GROUP BY lang ORDER BY lang""".stripMargin

  /** q79: the end-to-end corpus manifest — the deliverable a data
    * pipeline actually ships. Composes the library's own stages in one
    * plan: exact-dedup survivorship (min doc_id per content
    * fingerprint, q62's rule), quality gates (token count, type-token
    * ratio, duplicate-bigram ratio — q31/q61/q68's metrics), and the
    * content-hash train split (q53's rule), reduced to per-language
    * counts, token mass, and a content checksum of what ships. Every
    * metric is integer or string, so the full composition stays exact
    * under the oracle hash.
    *
    * Plan: one scan, per-row codegen feature projection, one window
    * over the fingerprint (dedup survivorship), one hash-agg on lang.
    * At 100 TB: fingerprint window = one shuffle on fp (same key a
    * dedup would shuffle anyway); everything else is map-side.
    */
  private def q79(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"fp")
    Tables
      .documents(s, d)
      .withColumn("fp", md5($"text".cast("binary")))
      .withColumn("toks", split($"text", " "))
      .withColumn("n_tokens", size($"toks").cast("long"))
      .withColumn("ttr_pct",
        expr("(100 * size(array_distinct(toks))) DIV size(toks)"))
      .withColumn("bigrams",
        // For a <2-token doc, sequence(0, size-2) would be sequence(0,-1)
        // = [0,-1] (Spark steps -1 when start > stop), and toks[-1] throws
        // INVALID_ARRAY_INDEX under ANSI. q68 filters such docs out; the
        // manifest must keep every row, so guard the construction itself.
        expr(s"CASE WHEN size(toks) < 2 THEN array() ELSE $bigramsExpr END"))
      .withColumn("dup_pct",
        // zero-bigram docs (guard above) — ANSI DIV would throw
        expr("CASE WHEN size(bigrams) = 0 THEN 0 ELSE " +
          "(100 * (size(bigrams) - size(array_distinct(bigrams)))) " +
          "DIV size(bigrams) END"))
      .withColumn("survivor", min($"doc_id").over(w) === $"doc_id")
      .withColumn("split", splitCol($"doc_id"))
      .withColumn("keep",
        $"survivor" && $"split" === "train" &&
          $"n_tokens" >= 20 && $"ttr_pct" >= 30 && $"dup_pct" <= 50)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"keep", lit(1)).otherwise(lit(0)))
          .cast("long").as("n_kept"),
        sum(when($"keep", $"n_tokens").otherwise(lit(0L)))
          .cast("long").as("kept_tokens"),
        min(when($"keep", $"fp")).as("min_kept_fp"),
      )
      .orderBy($"lang")
  }

  private val q79Sql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
      |    AS kept_tokens,
      |  MIN(CASE WHEN keep THEN fp END) AS min_kept_fp
      |FROM (
      |  SELECT lang, n_tokens, fp,
      |    (survivor AND split = 'train' AND n_tokens >= 20
      |      AND ttr_pct >= 30 AND dup_pct <= 50) AS keep
      |  FROM (
      |    SELECT lang, fp, n_tokens, ttr_pct, dup_pct,
      |      MIN(doc_id) OVER (PARTITION BY fp) = doc_id AS survivor,
      |      CASE WHEN h <= 'b' THEN 'train'
      |           WHEN h <= 'd' THEN 'val' ELSE 'test' END AS split
      |    FROM (
      |      SELECT doc_id, lang, md5(text) AS fp,
      |        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h,
      |        CAST(len(w) AS BIGINT) AS n_tokens,
      |        (100 * len(list_distinct(w))) // len(w) AS ttr_pct,
      |        CASE WHEN len(bg) = 0 THEN 0 ELSE
      |          (100 * (len(bg) - len(list_distinct(bg)))) // len(bg)
      |        END AS dup_pct
      |      FROM (
      |        SELECT *,
      |          list_transform(range(1, len(w)),
      |                         i -> w[i] || ' ' || w[i + 1]) AS bg
      |        FROM (SELECT doc_id, lang, text,
      |                string_split(text, ' ') AS w
      |              FROM documents) t0) t1) t2) t3) t4
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** q90: deterministic stratified sampling — per-language rates (en is
    * over-represented, so it downsamples hardest) decided by a hash of
    * the stable doc id, NOT `rand()`: the sample is reproducible across
    * engines, partitionings, retries, and re-runs, which is what makes
    * a corpus mix auditable. Same md5-prefix device as q53's split;
    * per-stratum thresholds over the uniform first hex nibble (en 4/16,
    * zh 8/16, rest 12/16). One projection + one hash-agg on lang.
    */
  private def q90(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val h = substring(md5($"doc_id".cast("string").cast("binary")), 1, 1)
    Tables
      .documents(s, d)
      .withColumn("keep",
        when($"lang" === "en", h <= "3")
          .when($"lang" === "zh", h <= "7")
          .otherwise(h <= "b"))
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"keep", 1L).otherwise(0L)).cast("long").as("n_kept"),
        min(when($"keep", md5($"text".cast("binary")))).as("min_kept_fp"),
      )
      .orderBy($"lang")
  }

  private val q90Sql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  MIN(CASE WHEN keep THEN fp END) AS min_kept_fp
      |FROM (SELECT lang, md5(text) AS fp,
      |        CASE WHEN lang = 'en'
      |               THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '3'
      |             WHEN lang = 'zh'
      |               THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= '7'
      |             ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
      |        END AS keep
      |      FROM documents) t
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** q109: deterministic fixed-k per-group sample — "give me exactly 10
    * inspectable documents per language", the eyeball-QA / few-shot-
    * selection primitive q90's rate-based sampling cannot provide (a
    * hash THRESHOLD yields a binomial count per group; a hash RANK
    * yields exactly k). Ordering by `md5(doc_id)` with a doc_id
    * tie-break makes the choice uniform-ish, engine-independent, and
    * stable across partitionings/retries (never `rand()`). The plan is
    * the part that matters at 100 TB: Spark rewrites the
    * `row_number() <= k` filter into a WindowGroupLimit, which keeps a
    * bounded top-k heap per group on the MAP side before the lang
    * shuffle — each task ships at most k rows per language, so the
    * exchange carries k·langs·tasks rows, not the corpus
    * (Round8Spec locks the WindowGroupLimit + its partial/map-side
    * phase in the physical plan).
    */
  private def q109(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val w = Window.partitionBy($"lang")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    Tables
      .documents(s, d)
      .select($"lang", $"doc_id")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 10)
      .select($"lang", $"rk".cast("long").as("rk"), $"doc_id")
      .orderBy($"lang", $"rk")
  }

  private val q109Sql =
    """WITH r AS (
      |  SELECT lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id
      |FROM r WHERE rk <= 10 ORDER BY lang, rk""".stripMargin

  /** Token-budget shard assignment over a deterministic global document
    * order — the "cut the corpus into ~budget-token training shards"
    * step that follows packing (q54 packs WITHIN a document; this packs
    * ACROSS documents). A doc's shard is `floor(tokens_before_it /
    * budget)` in `(md5(text), doc_id)` order, i.e. a running token sum
    * over a global total order — the operation that is one global
    * `Window.orderBy` in textbook SQL and therefore a single-partition
    * scale-killer on a real corpus.
    *
    * This is the scale-safe plan instead, the generator's two-pass
    * prefix-sum discipline (`gen/StreamGen.scala` block mode) applied to
    * corpus prep: `repartitionByRange` on the order key + partition-local
    * sort gives a globally ordered partitioning; pass 1 reduces each
    * partition to ONE long (its token sum — the only driver
    * materialization, `nParts` longs total, same bounded-collect class
    * as StreamGen's per-partition offsets); pass 2 streams each
    * partition once with its exclusive prefix as the starting offset.
    * O(1) task memory, no global window, no single-reducer sort.
    *
    * The ranged dataset is MATERIALIZED (persist + eager pass-2
    * checkpoint) so the range exchange executes exactly once and both
    * passes read the same partitions. This is not optional caching:
    * RangePartitioner's boundary sampling is seeded by `rdd.id`, so two
    * separate executions of the same `repartitionByRange` plan may draw
    * DIFFERENT boundaries once a scan partition exceeds the sampling
    * reservoir (~300 rows) — pass-1 offsets applied to a
    * differently-bounded pass 2 would misplace every row in a moved
    * range. (StreamGen's two-pass discipline survives without
    * materializing only because `spark.range` partitions by closed-form
    * arithmetic, no sampling.) At corpus scale the materialization IS
    * the pipeline's natural write boundary: a production run writes the
    * range-sorted corpus durably and manifests from that copy.
    * Partition-count independence of the RESULT is locked by
    * Round10Spec.
    */
  def packShards(
      docs: DataFrame,
      budgetTokens: Long,
      nParts: Int = 32,
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs
      .select(
        col("doc_id").cast("long").as("doc_id"),
        md5(col("text")).as("h"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .repartitionByRange(nParts, col("h"), col("doc_id"))
      .sortWithinPartitions(col("h"), col("doc_id"))
      .as[(Long, String, Long)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val partSums = keyed
        .mapPartitions { it =>
          var s = 0L
          it.foreach(s += _._3)
          Iterator((org.apache.spark.TaskContext.getPartitionId(), s))
        }
        .collect()
        .toMap
      val offsets = (0 until nParts)
        .scanLeft(0L)((acc, i) => acc + partSums.getOrElse(i, 0L))
        .toArray
      val bOff = spark.sparkContext.broadcast(offsets)
      keyed
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          var run = bOff.value(pid)
          it.map { case (id, _, t) =>
            val shard = run / budgetTokens // shard of the doc's FIRST token
            run += t
            (id, t, shard)
          }
        }
        .toDF("doc_id", "n_toks", "shard")
        // eager: the slim (3-long) result materializes while the cached
        // ranged partitions are still pinned, so the caller's lazy reads
        // can never trigger a re-exchange after unpersist
        .localCheckpoint()
    } finally keyed.unpersist()
  }

  /** q131: the registered shard-packing rollup — per shard: docs,
    * tokens, and an id checksum, so a single misplaced document anywhere
    * in the global order breaks the cross-engine hash. The oracle IS the
    * textbook global-window formulation (DuckDB can afford it at
    * oracle scale), which independently proves the two-pass plan
    * computes exactly the running-sum semantics it replaced.
    */
  private def q131(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    packShards(Tables.documents(s, d), budgetTokens = 1024L)
      .groupBy($"shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_toks").as("n_tokens"),
        sum($"doc_id").as("id_sum"),
      )
      .orderBy($"shard")
  }

  private val q131Sql =
    """WITH t AS (
      |  SELECT doc_id, md5(text) AS h,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n,
      |    CAST((SUM(n) OVER (ORDER BY h, doc_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n) // 1024
      |      AS BIGINT) AS shard
      |  FROM t)
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n) AS BIGINT) AS n_tokens,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |FROM c GROUP BY shard ORDER BY shard""".stripMargin

  /** q135: the round-10 pipeline MANIFEST — q79's deliverable rebuilt
    * from this round's operators, composed in ONE oracled plan the way
    * the shipped job actually runs:
    *
    *   1. exact-dedup survivorship (min doc_id per `md5(text)` — q62's
    *      convention) as a semi-join;
    *   2. the train split (`splitCol`, q53's convention);
    *   3. the learned quality gate ([[Text.withQualityLogit]] ≥ 0 —
    *      q130's classifier, reused verbatim);
    *   4. 13-gram test-set decontamination as an ANTI-join: any train
    *      doc sharing one exact 13-token subsequence with ANY test doc
    *      is dropped (q124's gram machinery with the sides flipped —
    *      decontamination REMOVES from train, reporting on test);
    *   5. token-budget shard packing of what survives ([[packShards]],
    *      q131's two-pass prefix sum).
    *
    * Output: the per-shard manifest (docs, tokens, id checksum). Every
    * stage is the already-verified operator — the new claim this row
    * gates is that the COMPOSITION is engine-exact end-to-end: the
    * DuckDB oracle re-derives all five stages (string grams where Spark
    * uses hashed grams, a global running-sum window where Spark runs
    * the two-pass prefix) and the final hash must still match.
    */
  private def q135(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val keepers = docs
      .groupBy(md5($"text".cast("binary")).as("fp"))
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id")
    val qualityTrain = graft.ops.Text
      .withQualityLogit(docs)
      .filter(splitCol($"doc_id") === "train" && $"logit_ppm" >= 0L)
      .select($"doc_id", $"text")
    val grams = splitGrams(s, d, n = 13)
    val testGrams = grams.filter($"split" === "test").select($"gh").distinct()
    val contaminated = grams
      .filter($"split" === "train")
      .join(testGrams, Seq("gh"), "left_semi")
      .select($"doc_id")
      .distinct()
    // packShards materializes its ranged input (its own correctness
    // obligation), so the 5-stage chain above executes exactly once.
    val corpus = qualityTrain
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
    packShards(corpus, budgetTokens = 512L)
      .groupBy($"shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_toks").as("n_tokens"),
        sum($"doc_id").as("id_sum"),
      )
      .orderBy($"shard")
  }

  private val q135Sql =
    s"""WITH keepers AS (
       |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |quality AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
       |    AND ${graft.ops.Text.logitPpmSql} >= 0),
       |$gram13CtesSql,
       |contam AS (
       |  SELECT DISTINCT tr.doc_id
       |  FROM (SELECT doc_id, gram FROM grams WHERE split = 'train') tr
       |  JOIN (SELECT DISTINCT gram FROM grams WHERE split = 'test') te
       |    USING (gram)),
       |kept AS (
       |  SELECT q.doc_id, q.text FROM quality q
       |  WHERE q.doc_id IN (SELECT doc_id FROM keepers)
       |    AND q.doc_id NOT IN (SELECT doc_id FROM contam)),
       |c AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
       |    CAST((SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
       |       OVER (ORDER BY md5(text), doc_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      - len(string_split(text, ' '))) // 512 AS BIGINT) AS shard
       |  FROM kept)
       |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(nt) AS BIGINT) AS n_tokens,
       |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
       |FROM c GROUP BY shard ORDER BY shard""".stripMargin

  /** q146: weight-proportional sampling without replacement
    * (Efraimidis–Spirakis A-ES) — "sample 200 documents with probability
    * proportional to token mass", the data-selection primitive behind
    * token-budgeted subcorpus draws that q90 (fixed per-lang RATE) and
    * q109 (fixed per-group COUNT) cannot express: here a 4000-token doc
    * is 100× likelier than a 40-token one, globally, with no
    * per-group quota. Each doc gets the A-ES priority `u^(1/w)` — u a
    * deterministic md5-derived uniform in (0,1], w its token count —
    * ranked as `ln(u)/w` (monotone equivalent, one log instead of a
    * pow); the global top-k by priority IS the weighted sample.
    *
    * Scale: the priority is a pure codegen projection and the top-200 is
    * `TakeOrderedAndProject` — every scan task keeps a bounded k-heap
    * and ships k rows, so the exchange carries k·tasks rows, never the
    * corpus; no global sort, no window. The draw is placement- and
    * retry-independent (hash, not rand()), so a 1000-executor rerun
    * reproduces the sample bit-for-bit. Output drops the float priority
    * (doubles don't hash-compare across engines) — membership itself is
    * the contract.
    */
  /** The A-ES priority `ln(u)/w` — ONE definition shared by batch q146
    * and the streaming reservoir q303 so the two paths cannot drift
    * (the q260 shared-arithmetic discipline).
    */
  private[graft] def aesKey(docId: Column, nTokens: Column): Column = {
    val u =
      (conv(
        substring(
          md5(concat(lit("ws:"), docId.cast("string")).cast("binary")),
          1, 8),
        16, 10).cast("double") + 1.0) / 4294967296.0
    log(u) / nTokens
  }

  private def q146(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables
      .documents(s, d)
      .withColumn("n_tokens", size(split($"text", " ")).cast("long"))
      .withColumn("es_key", aesKey($"doc_id", $"n_tokens"))
      .orderBy($"es_key".desc, $"doc_id")
      .limit(200)
      .select($"doc_id", $"lang", $"n_tokens")
      .orderBy($"doc_id")
  }

  private val q146Sql =
    """WITH t AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    ln((CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
      |                             1, 8)) AS BIGINT) + 1)
      |       / 4294967296.0)
      |      / len(string_split(text, ' ')) AS es_key
      |  FROM documents),
      |sel AS (SELECT * FROM t ORDER BY es_key DESC, doc_id LIMIT 200)
      |SELECT doc_id, lang, n_tokens FROM sel ORDER BY doc_id""".stripMargin

  /** q148: temperature-flattened language mixture (the mT5/XLM-R
    * `p^α` resampling rule, α = 0.3) — unlike q60's hand-fixed
    * per-language rates, the rates here are DERIVED from the corpus
    * itself: sampling mass q_l ∝ p_l^α flattens the head (en) and
    * boosts the tail (zh), and each language keeps
    * `min(1, B·q_l / n_l)` of its docs against a total budget B. The
    * operational shape is the two-phase pattern q60 has no need for:
    * aggregate the language histogram (tiny), compute rates on it,
    * broadcast the rate table back onto the scan, and gate each doc by
    * a salted md5 uniform against its language's rate — so the corpus
    * is still read exactly once and the mixture decision is a codegen'd
    * scan-stage filter at 100 TB, with only a langs-sized broadcast in
    * between.
    *
    * Everything before the final compare is arithmetic on exact
    * integers (counts) through identical double expressions, so both
    * engines derive bit-identical rates; the uniform has 2^32
    * granularity so the gate is reproducible and placement-independent.
    */
  private def q148(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val budget = 2000.0
    val alpha = 0.3
    val docs = Tables
      .documents(s, d)
      .withColumn("n_tokens", size(split($"text", " ")).cast("long"))
    val hist = docs.groupBy($"lang").agg(count(lit(1)).as("n_l"))
    val rates = hist
      .withColumn("q_raw", pow($"n_l".cast("double") /
        sum($"n_l").over(Window.partitionBy()), alpha))
      .withColumn("q_l", $"q_raw" / sum($"q_raw").over(Window.partitionBy()))
      .withColumn("rate",
        least(lit(1.0), lit(budget) * $"q_l" / $"n_l".cast("double")))
      .select($"lang", $"rate")
    val u32 = conv(
      substring(
        md5(concat(lit("tm:"), $"doc_id".cast("string")).cast("binary")),
        1, 8),
      16, 10).cast("double")
    docs
      .join(broadcast(rates), Seq("lang"))
      .withColumn("keep", u32 < $"rate" * 4294967296.0)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(max($"rate"), 6).as("rate"),
        sum($"keep".cast("long")).as("n_kept"),
        sum(when($"keep", $"n_tokens").otherwise(0L)).cast("long")
          .as("kept_tokens"),
        min(when($"keep", md5($"text".cast("binary")))).as("min_kept_fp"),
      )
      .orderBy($"lang")
  }

  private val q148Sql =
    """WITH hist AS (
      |  SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
      |p AS (
      |  SELECT lang, n_l,
      |    pow(CAST(n_l AS DOUBLE) / SUM(n_l) OVER (), 0.3) AS q_raw
      |  FROM hist),
      |rates AS (
      |  SELECT lang,
      |    LEAST(1.0, 2000.0 * (q_raw / SUM(q_raw) OVER ())
      |                      / CAST(n_l AS DOUBLE)) AS rate
      |  FROM p),
      |t AS (
      |  SELECT d.lang, d.text,
      |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
      |    r.rate,
      |    CAST(CAST(('0x' || substr(md5('tm:' || CAST(d.doc_id AS VARCHAR)),
      |                              1, 8)) AS BIGINT) AS DOUBLE)
      |      < r.rate * 4294967296.0 AS keep
      |  FROM documents d JOIN rates r USING (lang))
      |SELECT lang, COUNT(*) AS n_docs, ROUND(MAX(rate), 6) AS rate,
      |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
      |    AS kept_tokens,
      |  MIN(CASE WHEN keep THEN md5(text) END) AS min_kept_fp
      |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  /** q150: corpus snapshot diff — the "what changed between dataset
    * v1 and v2" audit every periodic corpus refresh needs before
    * retraining: classify every doc_id across two snapshots as
    * added / removed / changed / unchanged by FULL OUTER joining the
    * versions on doc_id and comparing content fingerprints. Two
    * deterministic snapshot views stand in for the versions (old =
    * hash-filtered subset with a hash-selected slice of texts
    * edited via reverse(); new = a different hash-filtered subset,
    * clean), so every class is non-empty and both engines derive
    * identical versions from one physical table.
    *
    * The full-outer equi-join is the one join shape the batch
    * inventory had not yet gated (q126 covers it for streams); at
    * 100 TB it is a shuffle join on the id with map-side-combined
    * per-class aggregation after — the diff report is class-sized,
    * nothing wide survives the agg. Fingerprints (md5) stand in for
    * full-text compare so the join carries 16-byte hashes, not
    * documents.
    */
  private def q150(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    def h(salt: String): Column = substring(
      md5(concat(lit(salt), $"doc_id".cast("string")).cast("binary")), 1, 2)
    val old = docs
      .filter(h("snap:") < "f0")
      .select($"doc_id",
        when(h("edit:") < "10", md5(reverse($"text").cast("binary")))
          .otherwise(md5($"text".cast("binary"))).as("fp_old"))
    val neu = docs
      .filter(h("snap:") >= "10")
      .select($"doc_id", md5($"text".cast("binary")).as("fp_new"))
    old
      .join(neu, Seq("doc_id"), "full_outer")
      .withColumn("change_kind",
        when($"fp_old".isNull, "added")
          .when($"fp_new".isNull, "removed")
          .when($"fp_old" =!= $"fp_new", "changed")
          .otherwise("unchanged"))
      .groupBy($"change_kind")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"doc_id").cast("long").as("id_sum"),
        min(coalesce($"fp_new", $"fp_old")).as("min_fp"),
      )
      .orderBy($"change_kind")
  }

  private val q150Sql =
    """WITH old AS (
      |  SELECT doc_id,
      |    CASE WHEN substr(md5('edit:' || CAST(doc_id AS VARCHAR)), 1, 2)
      |              < '10'
      |         THEN md5(reverse(text)) ELSE md5(text) END AS fp_old
      |  FROM documents
      |  WHERE substr(md5('snap:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'f0'),
      |neu AS (
      |  SELECT doc_id, md5(text) AS fp_new
      |  FROM documents
      |  WHERE substr(md5('snap:' || CAST(doc_id AS VARCHAR)), 1, 2) >= '10'),
      |j AS (
      |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, fp_old, fp_new,
      |    CASE WHEN fp_old IS NULL THEN 'added'
      |         WHEN fp_new IS NULL THEN 'removed'
      |         WHEN fp_old <> fp_new THEN 'changed'
      |         ELSE 'unchanged' END AS change_kind
      |  FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id)
      |SELECT change_kind, COUNT(*) AS n_docs,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_sum,
      |  MIN(COALESCE(fp_new, fp_old)) AS min_fp
      |FROM j GROUP BY change_kind ORDER BY change_kind""".stripMargin

  /** q166: per-SOURCE document caps — the RefinedWeb/Gopher
    * anti-domination policy none of the samplers express: a source may
    * contribute at most K documents, chosen by PRIORITY (longest first,
    * doc_id tie-break — deterministic and placement-independent), not
    * at random (q109's fixed-k) nor at a rate (q90). The survivorship
    * ledger reports, per source, what was offered vs what shipped and
    * the retained character mass — the number a curator actually reads.
    * The offered-vs-shipped sides are SPLIT so each gets its cheapest
    * plan: totals are a plain hash aggregate (map-side partial combine —
    * no window, no row ever crosses the exchange un-reduced), while the
    * kept side filters `rk <= K` DIRECTLY after `row_number`, which is
    * the shape Catalyst's InferWindowGroupLimit rewrites into a
    * WindowGroupLimit — map-side partial top-K per source, so at corpus
    * scale only ~K rows per (task, source) reach the window exchange
    * instead of every document. The two K+1-row-per-source aggregates
    * then join on `source`.
    */
  private def q166(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val K = 10
    val base = Tables
      .documents(s, d)
      .select($"source", $"doc_id", $"n_chars")
    val totals = base
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"n_chars".desc, $"doc_id")
    val kept = base
      .withColumn("rk", row_number().over(w))
      .where($"rk" <= K)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), sum($"n_chars").as("kept_chars"))
    totals
      .join(kept, Seq("source"), "left_outer")
      .select($"source", $"n_docs",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"kept_chars", lit(0L)).as("kept_chars"),
        $"total_chars")
      .orderBy($"source")
  }

  private val q166Sql =
    """WITH r AS (
      |  SELECT source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN rk <= 10 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(SUM(CASE WHEN rk <= 10 THEN n_chars ELSE 0 END) AS BIGINT)
      |    AS kept_chars,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  /** q167: BM25 ranked retrieval — the scoring layer on top of the
    * q155/q64 index family, i.e. the actual search engine: the query is
    * the corpus' top-3-df terms (derived, so no literal can go stale),
    * each matching (doc, term) scores
    * `idf · tf·(k1+1) / (tf + k1·(1−b + b·len/avglen))` with k1=1.2,
    * b=0.75, and docs rank by summed score, top-10. EVERYTHING is
    * integer arithmetic — idf in ppm (q64's rational variant), length
    * normalization in milli-units, floor division at the same points in
    * both engines — so the ranking is hash-exact, not approximately
    * equal. Plan: one explode → (doc, term) tf agg; doc lengths and the
    * 3-term query table broadcast (3 rows); per-doc sum; top-10 as
    * TakeOrderedAndProject. Long headroom: idf_ppm·tf·2200 stays under
    * 2⁶³ for corpora into the billions of docs at these tf ranges; a
    * 100 TB deployment with heavier tails scales idf to per-mille.
    */
  private def q167(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bm25Scores(s, d)
      .orderBy($"bm25".desc, $"doc_id")
      .limit(10)
  }

  /** The q167 scorer unlimited — factored so q262's fusion ranks the
    * same integer-exact scores. One explode → tf agg; the 3-term query
    * and corpus totals broadcast; per-doc integer sum.
    */
  private def bm25Scores(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val toks = docs
      .select($"doc_id", explode(split($"text", " ")).as("term"))
    val posting = toks.groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"))
    val lens = toks.groupBy($"doc_id").agg(count(lit(1)).as("len"))
    val stats = posting.groupBy($"term")
      .agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"),
      sum(length($"text") - length(regexp_replace($"text", " ", "")) + 1)
        .as("tot_toks"))
    val qterms = stats
      .orderBy($"df".desc, $"term")
      .limit(3)
      .crossJoin(broadcast(n))
      .withColumn("idf_ppm", expr("(1000000 * n_docs) DIV df"))
      .select($"term", $"idf_ppm", $"n_docs", $"tot_toks")
    posting
      .join(broadcast(qterms), Seq("term"))
      .join(lens, Seq("doc_id"))
      .withColumn("avglen_milli", expr("(tot_toks * 1000) DIV n_docs"))
      .withColumn("norm_milli",
        expr("250 + (750 * len * 1000) DIV avglen_milli"))
      .withColumn("denom_milli",
        expr("tf * 1000 + (1200 * norm_milli) DIV 1000"))
      .withColumn("score",
        expr("(idf_ppm * tf * 2200) DIV denom_milli"))
      .groupBy($"doc_id")
      .agg(sum($"score").as("bm25"), count(lit(1)).as("n_qterms"))
  }

  /** q167's BM25 SQL over an arbitrary documents relation — the base
    * table for q167/q275/q321/q327, the erasure-reduced subquery for
    * q331 (whose oracle must renormalize df/N/avglen over the kept
    * corpus).
    */
  private def q167SqlOver(docsRel: String) =
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM $docsRel),
      |posting AS (
      |  SELECT doc_id, term, COUNT(*) AS tf
      |  FROM toks GROUP BY doc_id, term),
      |lens AS (
      |  SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id),
      |n AS (
      |  SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
      |      AS BIGINT) AS tot_toks
      |  FROM $docsRel),
      |qterms AS (
      |  SELECT term, (1000000 * n_docs) // df AS idf_ppm,
      |    n_docs, tot_toks
      |  FROM (SELECT term, COUNT(*) AS df FROM posting GROUP BY term) s, n
      |  ORDER BY df DESC, term LIMIT 3),
      |scored AS (
      |  SELECT p.doc_id,
      |    (q.idf_ppm * p.tf * 2200) //
      |      (p.tf * 1000 +
      |       (1200 * (250 + (750 * l.len * 1000) //
      |         ((q.tot_toks * 1000) // q.n_docs))) // 1000) AS score
      |  FROM posting p
      |  JOIN qterms q USING (term)
      |  JOIN lens l USING (doc_id))
      |SELECT doc_id, CAST(SUM(score) AS BIGINT) AS bm25,
      |  COUNT(*) AS n_qterms
      |FROM scored GROUP BY doc_id
      |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin

  private val q167Sql = q167SqlOver("documents")

  /** q331's oracle: q167's BM25 recomputed from scratch over the
    * corpus WITHOUT the erased docs — df, N, and avglen all
    * renormalize, the external half of the index-erasure identity.
    */
  private val q331Sql =
    q167SqlOver("(SELECT * FROM documents WHERE doc_id % 9 <> 4)")

  /** q327's oracle: q167's full-corpus BM25 replayed once per canary
    * phase — every phase of the live swap must serve the same exact
    * top-10 the raw corpus derives.
    */
  private val q327Sql: String =
    s"""SELECT ph.phase, t.doc_id, t.bm25, t.n_qterms
       |FROM (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT)),
       |             (CAST(2 AS BIGINT))) ph(phase)
       |CROSS JOIN ($q167Sql) t
       |ORDER BY ph.phase, t.bm25 DESC, t.doc_id""".stripMargin

  /** q262: HYBRID RETRIEVAL — reciprocal-rank fusion of the lexical
    * and semantic rankers, the serving shape every production RAG
    * stack runs (BM25 catches exact terms, embeddings catch
    * paraphrase; RRF needs no score calibration between the two
    * because it consumes only RANKS): fuse q167's BM25 top-20 with the
    * exact-scan cosine top-20 over the embeddings table (vec_id ≡
    * doc_id; query = vector 0, the q40 contract) by
    * Σ_lists 60000 DIV (60 + rank) — the standard RRF k = 60 in
    * integer milli-units, so fusion is hash-exact end to end. The
    * dense side here is the EXACT twin of the ANN store probe (q184's
    * serving path; q263 is the filtered variant) — the fusion operator
    * is identical whichever dense retriever feeds it, and using the
    * exact scan keeps the whole query under the DuckDB oracle.
    *
    * Scale: each side reduces to its top-K via TakeOrderedAndProject
    * BEFORE any global window — the rank row_number only ever sees K
    * rows, so there is no single-partition sort of the full candidate
    * set; the fusion join is K×K row-bounded. Round14Spec plants a
    * relevance fixture where the relevant doc tops NEITHER single list
    * but tops the fusion.
    */
  private def q262(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val K = 20
    val rankW = org.apache.spark.sql.expressions.Window
      .orderBy($"bm25".desc, $"doc_id")
    val sparse = bm25Scores(s, d)
      .orderBy($"bm25".desc, $"doc_id").limit(K)
      .withColumn("r_bm25", row_number().over(rankW).cast("long"))
      .select($"doc_id", $"r_bm25")
    val cosW = org.apache.spark.sql.expressions.Window
      .orderBy($"cos".desc, $"vec_id")
    val dense = Vectors
      .topKCosine(Tables.embeddings(s, d), queryVecId = 0L, k = K)
      .withColumn("r_cos", row_number().over(cosW).cast("long"))
      .select($"vec_id".as("doc_id"), $"r_cos")
    sparse
      .join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_milli",
        coalesce(expr("60000 DIV (60 + r_bm25)"), lit(0L)) +
          coalesce(expr("60000 DIV (60 + r_cos)"), lit(0L)))
      .select($"doc_id", $"r_bm25", $"r_cos", $"rrf_milli")
      .orderBy($"rrf_milli".desc, $"doc_id")
      .limit(10)
  }

  private val q262Sql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |posting AS (
      |  SELECT doc_id, term, COUNT(*) AS tf
      |  FROM toks GROUP BY doc_id, term),
      |lens AS (
      |  SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id),
      |n AS (
      |  SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
      |      AS BIGINT) AS tot_toks
      |  FROM documents),
      |qterms AS (
      |  SELECT term, (1000000 * n_docs) // df AS idf_ppm,
      |    n_docs, tot_toks
      |  FROM (SELECT term, COUNT(*) AS df FROM posting GROUP BY term) s, n
      |  ORDER BY df DESC, term LIMIT 3),
      |scored AS (
      |  SELECT p.doc_id,
      |    (q.idf_ppm * p.tf * 2200) //
      |      (p.tf * 1000 +
      |       (1200 * (250 + (750 * l.len * 1000) //
      |         ((q.tot_toks * 1000) // q.n_docs))) // 1000) AS score
      |  FROM posting p
      |  JOIN qterms q USING (term)
      |  JOIN lens l USING (doc_id)),
      |bm AS (
      |  SELECT doc_id, CAST(SUM(score) AS BIGINT) AS bm25
      |  FROM scored GROUP BY doc_id
      |  ORDER BY bm25 DESC, doc_id LIMIT 20),
      |bmr AS (
      |  SELECT doc_id,
      |    ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm25
      |  FROM bm),
      |cosd AS (
      |  SELECT vec_id AS doc_id,
      |    ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                           CAST(q.qe AS DOUBLE[])) /
      |          (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                                 CAST(embedding AS DOUBLE[]))) *
      |           sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]),
      |                                 CAST(q.qe AS DOUBLE[])))), 4)
      |      AS cos
      |  FROM embeddings,
      |       (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
      |  WHERE vec_id <> 0
      |  ORDER BY cos DESC, vec_id LIMIT 20),
      |cr AS (
      |  SELECT doc_id,
      |    ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS r_cos
      |  FROM cosd)
      |SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id, b.r_bm25, c.r_cos,
      |  COALESCE(60000 // (60 + b.r_bm25), 0) +
      |    COALESCE(60000 // (60 + c.r_cos), 0) AS rrf_milli
      |FROM bmr b FULL OUTER JOIN cr c ON b.doc_id = c.doc_id
      |ORDER BY rrf_milli DESC, doc_id LIMIT 10""".stripMargin

  /** q168: positional PHRASE search — the adjacency semantics a
    * bag-of-words index (q155/q167) cannot answer: "t1 t2" matches only
    * where the terms are CONSECUTIVE. Token positions come from one
    * `posexplode`, adjacency from one `lead` over the per-doc position
    * window (one shuffle on doc_id — the positional-index build), the
    * query phrase is the corpus' most frequent bigram (derived, ties by
    * phrase string), and docs rank by hit count, top-10 with doc_id
    * tie-break. At 100 TB the bigram table is the map-side-combined
    * (t1,t2) domain, and phrase matching never rescans text — it joins
    * the 1-row phrase against the same adjacency rows the build
    * produced.
    */
  private def q168(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"pos")
    val adj = Tables
      .documents(s, d)
      .select($"doc_id", posexplode(split($"text", " ")))
      .withColumnRenamed("col", "term")
      .withColumn("next", lead($"term", 1).over(w))
      .where($"next".isNotNull)
      .select($"doc_id", concat_ws(" ", $"term", $"next").as("phrase"))
    val top = adj
      .groupBy($"phrase")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"phrase")
      .limit(1)
      .select($"phrase")
    adj
      .join(broadcast(top), Seq("phrase"))
      .groupBy($"doc_id")
      .agg(min($"phrase").as("phrase"), count(lit(1)).as("n_hits"))
      .orderBy($"n_hits".desc, $"doc_id")
      .limit(10)
  }

  private val q168Sql =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(string_split(text, ' ')) AS term,
      |    generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |adj AS (
      |  SELECT doc_id,
      |    term || ' ' || LEAD(term) OVER (PARTITION BY doc_id
      |      ORDER BY pos) AS phrase
      |  FROM toks
      |  QUALIFY LEAD(term) OVER (PARTITION BY doc_id ORDER BY pos)
      |    IS NOT NULL),
      |top AS (
      |  SELECT phrase FROM adj GROUP BY phrase
      |  ORDER BY COUNT(*) DESC, phrase LIMIT 1)
      |SELECT doc_id, MIN(a.phrase) AS phrase, COUNT(*) AS n_hits
      |FROM adj a JOIN top t ON a.phrase = t.phrase
      |GROUP BY doc_id ORDER BY n_hits DESC, doc_id LIMIT 10""".stripMargin

  /** q201: CURRICULUM SHARD MIX — every training shard gets the same
    * easy/medium/hard difficulty composition (curriculum-learning's
    * data-side contract: if shard 7 is all hard docs, step 7k of every
    * epoch trains on a different distribution). Difficulty bins come
    * from BROADCAST percentile thresholds on length (q176's aggregate→
    * broadcast→codegen-comparison shape — easy ≤ P25 < medium ≤ P75 <
    * hard), and the shard assignment is a DETERMINISTIC HASH
    * round-robin (md5-derived, engine-replayable) rather than a global
    * row_number — an exact interleave would need a per-bin total order
    * (one sort partition per bin at corpus scale); the hash spreads
    * each bin across shards within binomial noise, which the ledger
    * itself exposes per cell. One scan, one 1-row threshold broadcast,
    * one (shard × bin)-cardinality aggregate.
    */
  private def q201(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cuts = Tables
      .documents(s, d)
      .agg(
        expr("percentile(n_chars, 0.25)").as("p25"),
        expr("percentile(n_chars, 0.75)").as("p75"),
      )
    Tables
      .documents(s, d)
      .crossJoin(broadcast(cuts)) // 1-row thresholds
      .withColumn("bin",
        when($"n_chars" <= $"p25", "easy")
          .when($"n_chars" <= $"p75", "medium")
          .otherwise("hard"))
      .withColumn("shard",
        conv(substring(
          md5(concat(lit("cs:"), $"doc_id".cast("string"))
            .cast("binary")), 1, 8), 16, 10).cast("long") % 8)
      .groupBy($"shard", $"bin")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("chars_sum"),
        sum($"doc_id").as("id_sum"),
      )
      .orderBy($"shard", $"bin")
  }

  private val q201Sql =
    """WITH cuts AS (
      |  SELECT quantile_cont(n_chars, 0.25) AS p25,
      |    quantile_cont(n_chars, 0.75) AS p75
      |  FROM documents),
      |binned AS (
      |  SELECT doc_id, n_chars,
      |    CASE WHEN n_chars <= p25 THEN 'easy'
      |         WHEN n_chars <= p75 THEN 'medium'
      |         ELSE 'hard' END AS bin,
      |    CAST(('0x' || substr(md5('cs:' || CAST(doc_id AS VARCHAR)),
      |      1, 8)) AS BIGINT) % 8 AS shard
      |  FROM documents, cuts)
      |SELECT shard, bin, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
      |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
      |FROM binned GROUP BY shard, bin
      |ORDER BY shard, bin""".stripMargin

  /** q202: CONTRASTIVE PAIR MINING — the (anchor, positive, negatives)
    * triples an embedding-model trainer consumes: positive = the
    * ADJACENT CHUNK of the same document (the standard unsupervised
    * positive — contiguous text shares topic), negatives drawn from
    * OTHER documents by a deterministic hash ring. The scale trap is
    * negative sampling: joining every anchor against a shared pool
    * fans out O(n²/buckets); here the pool pre-reduces to its TWO
    * smallest doc_ids per bucket (`row_number ≤ 2` — WindowGroupLimit,
    * map-side bounded heaps), so the anchor join is against a
    * 64-bucket × 2 BROADCAST constant whatever the corpus size, and
    * the self-collision case falls back to the bucket's second
    * representative. Output is the per-language LEDGER (counts +
    * order-independent negative-id checksum); the triples themselves
    * stay distributed.
    */
  private def q202(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def hexu(prefix: String, c: org.apache.spark.sql.Column) =
      conv(substring(
        md5(concat(lit(prefix), c.cast("string")).cast("binary")),
        1, 8), 16, 10).cast("long")
    val eligible = Tables
      .documents(s, d)
      .withColumn("n_toks", size(split($"text", " ")))
      .filter($"n_toks" >= 64)
      .select($"doc_id", $"lang",
        hexu("np:", $"doc_id").as("pool_u"))
      .withColumn("bucket", $"pool_u" % 64)
    val pool = eligible
      .withColumn("rk",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy($"bucket").orderBy($"doc_id")))
      .filter($"rk" <= 2)
      .groupBy($"bucket".as("pbucket"))
      .agg(
        min(when($"rk" === 1, $"doc_id")).as("m1"),
        min(when($"rk" === 2, $"doc_id")).as("m2"),
      )
    val drawn = eligible
      .withColumn("j", explode(sequence(lit(0), lit(1))))
      .withColumn("qbucket",
        hexu("nq:", concat($"doc_id".cast("string"), lit(":"),
          $"j".cast("string"))) % 64)
      .join(broadcast(pool), $"qbucket" === $"pbucket")
      .withColumn("neg_id",
        when($"m1" =!= $"doc_id", $"m1").otherwise($"m2"))
    drawn
      .groupBy($"lang")
      .agg(
        countDistinct($"doc_id").as("n_anchors"),
        sum(when($"neg_id".isNotNull, 1L).otherwise(0L))
          .as("n_negatives"),
        coalesce(sum($"neg_id"), lit(0L)).as("neg_id_checksum"),
      )
      .orderBy($"lang")
  }

  private val q202Sql =
    """WITH eligible AS (
      |  SELECT doc_id, lang,
      |    CAST(('0x' || substr(md5('np:' || CAST(doc_id AS VARCHAR)),
      |      1, 8)) AS BIGINT) % 64 AS bucket
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 64),
      |pool AS (
      |  SELECT bucket,
      |    MIN(CASE WHEN rk = 1 THEN doc_id END) AS m1,
      |    MIN(CASE WHEN rk = 2 THEN doc_id END) AS m2
      |  FROM (
      |    SELECT bucket, doc_id,
      |      ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id)
      |        AS rk
      |    FROM eligible) r
      |  WHERE rk <= 2 GROUP BY bucket),
      |drawn AS (
      |  SELECT e.doc_id, e.lang,
      |    CASE WHEN p.m1 <> e.doc_id THEN p.m1 ELSE p.m2 END AS neg_id
      |  FROM eligible e, range(0, 2) r(j)
      |  JOIN pool p
      |    ON CAST(('0x' || substr(md5('nq:' ||
      |         CAST(e.doc_id AS VARCHAR) || ':' ||
      |         CAST(r.j AS VARCHAR)), 1, 8)) AS BIGINT) % 64 = p.bucket)
      |SELECT lang, COUNT(DISTINCT doc_id) AS n_anchors,
      |  CAST(SUM(CASE WHEN neg_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_negatives,
      |  CAST(COALESCE(SUM(neg_id), 0) AS BIGINT) AS neg_id_checksum
      |FROM drawn GROUP BY lang ORDER BY lang""".stripMargin

  /** q205: KL DIVERGENCE BETWEEN SOURCE UNIGRAM DISTRIBUTIONS — the
    * information-theoretic "how different is source A's language from
    * source B's" matrix a curator reads before mixing corpora (KL is
    * asymmetric: KL(crawl‖books) ≠ KL(books‖crawl), so all ordered
    * pairs ship). Laplace-smoothed over the UNION vocabulary
    * (P'(w) = (cnt+1)/(n+V)), so absent words contribute finitely.
    *
    * Scale: one explode → (source, word) hash aggregate is the only
    * token-cardinality pass; everything after is vocabulary-bounded.
    * Pair fan-out is q186's two-broadcast-equi-join union (never a
    * non-equi join). Per-word terms are doubles but NEVER float-summed
    * across rows — each term rounds to integer micro-nats first
    * (q195's rule), so the reported divergence is a defined,
    * engine-exact statistic. The source dictionary and V are bounded
    * driver constants (a dictionary and a count).
    */
  private def q205(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = Tables
      .documents(s, d)
      .select($"source", explode(split($"text", " ")).as("w"))
      .filter(length($"w") > 0)
    val hist = words.groupBy($"source", $"w")
      .agg(count(lit(1)).as("cnt"))
    val vocabV = hist.select($"w").distinct().count()
    val totals = hist.groupBy($"source").agg(sum($"cnt").as("n_toks"))
    val sources = totals.select($"source").as[String].collect().sorted
    val pairs = for { a <- sources; b <- sources if a != b } yield (a, b)
    val pairsDf = s.createDataFrame(pairs).toDF("sa", "sb")
    val sideA = hist
      .join(broadcast(pairsDf), $"source" === $"sa")
      .select($"sa", $"sb", $"w", $"cnt".as("ca"), lit(0L).as("cb"))
    val sideB = hist
      .join(broadcast(pairsDf), $"source" === $"sb")
      .select($"sa", $"sb", $"w", lit(0L).as("ca"), $"cnt".as("cb"))
    val merged = sideA
      .unionAll(sideB)
      .groupBy($"sa", $"sb", $"w")
      .agg(sum($"ca").as("ca"), sum($"cb").as("cb"))
      .join(broadcast(totals.select($"source".as("sa"),
        $"n_toks".as("na"))), "sa")
      .join(broadcast(totals.select($"source".as("sb"),
        $"n_toks".as("nb"))), "sb")
    merged
      .withColumn("pa",
        ($"ca" + 1).cast("double") / ($"na" + vocabV))
      .withColumn("pb",
        ($"cb" + 1).cast("double") / ($"nb" + vocabV))
      .withColumn("term_micro",
        expr("CAST(ROUND(1000000 * pa * ln(pa / pb)) AS BIGINT)"))
      .groupBy($"sa", $"sb")
      .agg(count(lit(1)).as("n_words_union"),
        sum($"term_micro").as("kl_micro_nats"))
      .orderBy($"sa", $"sb")
  }

  private val q205Sql =
    """WITH words AS (
      |  SELECT source, w FROM (
      |    SELECT source, UNNEST(string_split(text, ' ')) AS w
      |    FROM documents) t
      |  WHERE len(w) > 0),
      |hist AS (
      |  SELECT source, w, COUNT(*) AS cnt
      |  FROM words GROUP BY source, w),
      |vv AS (SELECT COUNT(DISTINCT w) AS v FROM hist),
      |totals AS (
      |  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_toks
      |  FROM hist GROUP BY source),
      |pairs AS (
      |  SELECT a.source AS sa, b.source AS sb
      |  FROM totals a JOIN totals b ON a.source <> b.source),
      |merged AS (
      |  SELECT sa, sb, w,
      |    CAST(SUM(ca) AS BIGINT) AS ca, CAST(SUM(cb) AS BIGINT) AS cb
      |  FROM (
      |    SELECT p.sa, p.sb, h.w, h.cnt AS ca, 0 AS cb
      |    FROM hist h JOIN pairs p ON h.source = p.sa
      |    UNION ALL
      |    SELECT p.sa, p.sb, h.w, 0 AS ca, h.cnt AS cb
      |    FROM hist h JOIN pairs p ON h.source = p.sb) u
      |  GROUP BY 1, 2, 3),
      |terms AS (
      |  SELECT m.sa, m.sb,
      |    CAST(ROUND(1000000 *
      |      ((m.ca + 1) / CAST(ta.n_toks + vv.v AS DOUBLE)) *
      |      ln(((m.ca + 1) / CAST(ta.n_toks + vv.v AS DOUBLE)) /
      |         ((m.cb + 1) / CAST(tb.n_toks + vv.v AS DOUBLE))))
      |      AS BIGINT) AS term_micro
      |  FROM merged m
      |  JOIN totals ta ON ta.source = m.sa
      |  JOIN totals tb ON tb.source = m.sb
      |  CROSS JOIN vv)
      |SELECT sa, sb, COUNT(*) AS n_words_union,
      |  CAST(SUM(term_micro) AS BIGINT) AS kl_micro_nats
      |FROM terms GROUP BY sa, sb ORDER BY sa, sb""".stripMargin

  /** q258: PMI COLLOCATIONS — "which word pairs belong together" by
    * pointwise mutual information, the lexical-association member the
    * text family was missing (q64 TF-IDF ranks words per doc, q132
    * counts raw n-grams — raw counts surface common-word pairs, PMI
    * surfaces BOUND pairs): PMI(w₁,w₂) = ln(P(w₁w₂)/(P(w₁)P(w₂))) over
    * adjacent-token bigrams, with a minimum-support floor (5) so rare
    * coincidences don't dominate. Counts and totals are INTEGER from
    * two grouped passes (token, bigram); the single ln of a ratio of
    * integer products is identical-order; top-50 ordering ties break
    * on the words.
    */
  private def q258(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toksArr = Tables
      .documents(s, d)
      .select(split($"text", " ").as("t"))
    // totals attach as broadcast 1-row aggregates over the
    // localCheckpointed grouped counts (the q299/sppmi device): a
    // full-frame window here would funnel the vocab-sized unigram
    // table — and the vocab²-bounded bigram table — through ONE task,
    // and the checkpoint keeps the corpus scan to one pass per table
    val uni0 = toksArr
      .select(explode($"t").as("w"))
      .where(length($"w") > 0)
      .groupBy($"w")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val uni = uni0
      .crossJoin(broadcast(uni0.agg(sum($"c").as("nt"))))
    val bigr0 = toksArr
      // a 1-token (or empty) doc has no bigrams: sequence(0, -1) is the
      // DESCENDING sequence [0, -1] in Spark, and t[-1] throws under
      // ANSI — while DuckDB's generate_series(1, 0) is simply empty.
      // Filter the degenerate docs out so both engines agree (they
      // contribute no bigrams either way, so nb parity is preserved).
      .where(size($"t") >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> struct(t[i] AS w1, t[i + 1] AS w2))")).as("b"))
      .select($"b.w1", $"b.w2")
      .groupBy($"w1", $"w2")
      .agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val bigr = bigr0
      .crossJoin(broadcast(bigr0.agg(sum($"c12").as("nb"))))
    bigr
      .filter($"c12" >= 5L)
      .join(uni.select($"w".as("w1"), $"c".as("c1"), $"nt"), Seq("w1"))
      .join(uni.select($"w".as("w2"), $"c".as("c2")), Seq("w2"))
      .select($"w1", $"w2", $"c12", $"c1", $"c2",
        expr("ROUND(LN(CAST(c12 AS DOUBLE) * CAST(nt AS DOUBLE) * " +
          "CAST(nt AS DOUBLE) / (CAST(nb AS DOUBLE) * " +
          "CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6)").as("pmi"))
      .orderBy($"pmi".desc, $"w1", $"w2")
      .limit(50)
  }

  private val q258Sql =
    """WITH base AS (
      |  SELECT string_split(text, ' ') AS t FROM documents),
      |uni AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM (SELECT unnest(t) AS w FROM base) u
      |  WHERE len(w) > 0 GROUP BY w),
      |unit AS (
      |  SELECT w, c, CAST(SUM(c) OVER () AS BIGINT) AS nt FROM uni),
      |bigr AS (
      |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
      |  FROM (
      |    SELECT t[i] AS w1, t[i + 1] AS w2
      |    FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
      |          FROM base) g) b
      |  GROUP BY w1, w2),
      |bigt AS (
      |  SELECT w1, w2, c12, CAST(SUM(c12) OVER () AS BIGINT) AS nb
      |  FROM bigr)
      |SELECT b.w1, b.w2, b.c12, u1.c AS c1, u2.c AS c2,
      |  ROUND(LN(CAST(b.c12 AS DOUBLE) * CAST(u1.nt AS DOUBLE) *
      |    CAST(u1.nt AS DOUBLE) / (CAST(b.nb AS DOUBLE) *
      |    CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))), 6) AS pmi
      |FROM bigt b
      |JOIN unit u1 ON u1.w = b.w1
      |JOIN unit u2 ON u2.w = b.w2
      |WHERE b.c12 >= 5
      |ORDER BY pmi DESC, b.w1, b.w2 LIMIT 50""".stripMargin

  // ---- q268: DSIR importance resampling ------------------------------

  /** Hashed-unigram bucket id — the DSIR/fastText feature space: the
    * first 4 md5 hex digits of the word, mod `buckets`. Cross-engine
    * exact (md5 + hex parse are identical in Spark and DuckDB), so the
    * feature extraction itself is part of the oracled surface.
    */
  private[ops] def bucketCol(w: Column, buckets: Int): Column =
    conv(substring(md5(w.cast("binary")), 1, 4), 16, 10)
      .cast("long") % buckets

  private[ops] def bucketSql(w: String, buckets: Int): String =
    s"CAST(('0x' || substr(md5($w), 1, 4)) AS BIGINT) % $buckets"

  /** Per-document DSIR log-importance scores in integer micro-units.
    * `isTarget` marks the target-domain docs (the distribution to match);
    * every doc — target and raw — gets a score. Exposed so Round14Spec
    * can drive a planted-vocabulary fixture through the exact production
    * arithmetic. The ln-argument shift device: `ROUND(1e6·Δln + 1e9) −
    * 1e9` keeps the rounded argument positive (the regime where Spark
    * HALF_UP ≡ DuckDB half-away is proven) without costing precision —
    * doubles near 1e9 step at ~1.2e-7, finer than the micro grid.
    */
  private[graft] def dsirScores(
      docs: DataFrame,
      isTarget: Column,
      buckets: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val toks = docs
      .withColumn("is_t", isTarget)
      .select($"doc_id", $"is_t",
        explode(split($"text", " ")).as("w"))
      .withColumn("b", bucketCol($"w", buckets))
    val spine = s.range(0, buckets).select($"id".as("b"))
    val cnt = toks
      .groupBy($"b")
      .agg(
        sum(when($"is_t", 1L).otherwise(0L)).as("ct"),
        sum(when($"is_t", 0L).otherwise(1L)).as("cr"))
    val tot = cnt.agg(
      sum($"ct").as("nt"), sum($"cr").as("nr"))
    val lr = spine
      .join(cnt, Seq("b"), "left")
      .na.fill(0L, Seq("ct", "cr"))
      .crossJoin(broadcast(tot))
      .select($"b",
        (expr(
          s"""CAST(ROUND(1000000.0 *
             |  (LN(CAST(ct + 1 AS DOUBLE) / CAST(nt + $buckets AS DOUBLE)) -
             |   LN(CAST(cr + 1 AS DOUBLE) / CAST(nr + $buckets AS DOUBLE)))
             |  + 1000000000.0) AS BIGINT)""".stripMargin) -
          lit(1000000000L)).as("lr_micro"))
    toks
      .join(broadcast(lr), Seq("b"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_toks"),
        sum($"lr_micro").as("score_micro"))
  }

  /** q268: DSIR data selection — importance resampling of a crawl pool
    * toward a curated target distribution (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): a
    * hashed-unigram bag model of the curated sources (src0..src4) vs
    * the crawl remainder, each crawl doc scored by its integer
    * log-importance weight Σ_tokens ln(p_target/p_raw), and the top
    * 25% quota selected by the exact k-th-order-statistic threshold
    * (q248's cumulative-count device over the score histogram — no
    * global row sort; ties at the threshold round the quota UP to the
    * tie boundary, deterministically).
    *
    * Plan shape at 100 TB: the model is ONE map-side-combinable hash
    * aggregate to `buckets` rows (a broadcast table); scoring is one
    * explode + broadcast join + per-doc hash-agg; the quota threshold
    * reads the (distinct-integer-score)-sized histogram — at extreme
    * scale that histogram two-levels (coarse milli-bucket, then refine
    * inside one bucket), same device, still no row sort. Every
    * arithmetic step is integer except the two correctly-rounded LNs,
    * computed in identical operand order in both engines.
    */
  private def q268(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val curated = Seq("src0", "src1", "src2", "src3", "src4")
    val docs = Tables.documents(s, d)
    val scored = dsirScores(docs, $"source".isin(curated: _*), 256)
      .join(docs.select($"doc_id", $"source", $"lang"), Seq("doc_id"))
      .filter(!$"source".isin(curated: _*))
    val k = scored.agg(
      expr("GREATEST((COUNT(*) * 25) DIV 100, CAST(1 AS BIGINT))")
        .as("k"))
    // the cumulative count over the score histogram is a two-pass
    // prefix sum (Rank.runningSum): distinct score_micro values grow
    // with the corpus (worst case one per doc), so a partition-less
    // running window here would funnel a corpus-sized histogram
    // through ONE task
    val thr = Rank
      .runningSum(
        scored.groupBy($"score_micro").agg(count(lit(1)).as("cnt")),
        Seq($"score_micro".desc), $"cnt", "cum")
      .crossJoin(broadcast(k))
      .filter($"cum" >= $"k")
      .agg(max($"score_micro").as("thr"))
    scored
      .crossJoin(broadcast(thr))
      .filter($"score_micro" >= $"thr")
      .select($"doc_id", $"source", $"lang", $"n_toks", $"score_micro")
      .orderBy($"score_micro".desc, $"doc_id")
  }

  private val q268Sql = {
    val b = bucketSql("w", 256)
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    source IN ('src0','src1','src2','src3','src4') AS is_t,
       |    $b AS bk
       |  FROM (SELECT doc_id, source,
       |          unnest(string_split(text, ' ')) AS w FROM documents) t),
       |cnt AS (
       |  SELECT bk,
       |    CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
       |    CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cr
       |  FROM toks GROUP BY bk),
       |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
       |               CAST(SUM(cr) AS BIGINT) AS nr FROM cnt),
       |lr AS (
       |  SELECT s.b AS bk,
       |    CAST(ROUND(1000000.0 *
       |      (LN(CAST(COALESCE(c.ct, 0) + 1 AS DOUBLE) /
       |          CAST(t.nt + 256 AS DOUBLE)) -
       |       LN(CAST(COALESCE(c.cr, 0) + 1 AS DOUBLE) /
       |          CAST(t.nr + 256 AS DOUBLE)))
       |      + 1000000000.0) AS BIGINT) - 1000000000 AS lr_micro
       |  FROM (SELECT unnest(generate_series(0, 255)) AS b) s
       |  LEFT JOIN cnt c ON c.bk = s.b, tot t),
       |scored AS (
       |  SELECT k.doc_id, d.source, d.lang,
       |    CAST(COUNT(*) AS BIGINT) AS n_toks,
       |    CAST(SUM(l.lr_micro) AS BIGINT) AS score_micro
       |  FROM toks k JOIN lr l ON l.bk = k.bk
       |  JOIN documents d ON d.doc_id = k.doc_id
       |  WHERE NOT k.is_t
       |  GROUP BY k.doc_id, d.source, d.lang),
       |quota AS (
       |  SELECT GREATEST((COUNT(*) * 25) // 100, 1) AS k FROM scored),
       |hist AS (
       |  SELECT score_micro, COUNT(*) AS cnt FROM scored GROUP BY 1),
       |thr AS (
       |  SELECT MAX(score_micro) AS thr
       |  FROM (SELECT score_micro,
       |          SUM(cnt) OVER (ORDER BY score_micro DESC
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |            AS cum
       |        FROM hist) h, quota q
       |  WHERE h.cum >= q.k)
       |SELECT s.doc_id, s.source, s.lang, s.n_toks, s.score_micro
       |FROM scored s, thr t WHERE s.score_micro >= t.thr
       |ORDER BY s.score_micro DESC, s.doc_id""".stripMargin
  }

  // ---- q271: trained Naive-Bayes classifier + holdout confusion ------

  /** q271: multinomial Naive-Bayes language classifier TRAINED on the
    * corpus itself — the supervised counterpart of q34's rule heuristic
    * and the canonical "train the cheap classifier on-cluster, apply it
    * corpus-wide" pipeline stage (quality/domain classifiers in CCNet,
    * fastText-style): per-(lang, hashed-unigram-bucket) add-one
    * log-likelihoods and log-priors learned from the TRAIN split
    * (q53's deterministic content-hash split), every TEST doc scored
    * per class as `prior + Σ count·loglik` in integer micro-units,
    * argmax with a (score DESC, lang ASC) total tie order, reported as
    * the holdout confusion matrix.
    *
    * Training IS one hash aggregate: the model is (5 langs × 256
    * buckets) rows broadcast back — the "distributed training via
    * sufficient statistics" shape that holds at any corpus size.
    * Scoring joins each doc's bucket counts against the model and
    * reduces per (doc, lang) — bounded fan-out of 5. Same ln-shift
    * rounding device as q268, so both engines produce identical
    * integer log-likelihoods.
    */
  private def q271(s: SparkSession, d: String): DataFrame =
    nbConfusion(Tables.documents(s, d), 256)

  /** The q271 train/score/confusion pipeline over any (doc_id, lang,
    * text) frame — exposed so Round14Spec can plant a vocabulary-
    * separated fixture and require a perfect diagonal (the real corpus'
    * langs share one vocabulary, so there the learned posterior is
    * dominated by the majority class — exactness is the oracle's job,
    * discrimination is the spec's).
    */
  private[graft] def nbConfusion(docsRaw: DataFrame, B: Int): DataFrame = {
    val s = docsRaw.sparkSession
    import s.implicits._
    val docs = docsRaw
      .withColumn("split", splitCol($"doc_id"))
    val toks = docs
      .select($"doc_id", $"lang", $"split",
        explode(split($"text", " ")).as("w"))
      .withColumn("b", bucketCol($"w", B))
    val classes = docs.filter($"split" === "train")
      .groupBy($"lang".as("cls"))
      .agg(count(lit(1)).as("n_docs"))
    val nTrainDocs = docs.filter($"split" === "train").count()
    val clsTok = toks.filter($"split" === "train")
      .groupBy($"lang".as("cls"), $"b")
      .agg(count(lit(1)).as("c"))
    val clsTot = clsTok.groupBy($"cls").agg(sum($"c").as("nc"))
    val spine = s.range(0, B).select($"id".as("b"))
      .crossJoin(classes.select($"cls"))
    val lnShift = "CAST(ROUND(1000000.0 * LN(%s) + 1000000000.0) " +
      "AS BIGINT) - 1000000000"
    val model = spine
      .join(clsTok, Seq("cls", "b"), "left")
      .na.fill(0L, Seq("c"))
      .join(broadcast(clsTot), Seq("cls"))
      .select($"cls", $"b",
        expr(lnShift.format(
          s"CAST(c + 1 AS DOUBLE) / CAST(nc + $B AS DOUBLE)"))
          .as("lp_micro"))
    val prior = classes
      .select($"cls",
        expr(lnShift.format(
          s"CAST(n_docs AS DOUBLE) / CAST($nTrainDocs AS DOUBLE)"))
          .as("prior_micro"))
    val docBuckets = toks.filter($"split" === "test")
      .groupBy($"doc_id", $"lang", $"b")
      .agg(count(lit(1)).as("cnt"))
    val scoresRaw = docBuckets
      .join(broadcast(model), Seq("b"))
      .groupBy($"doc_id", $"lang", $"cls")
      .agg(sum($"cnt" * $"lp_micro").as("ll_micro"))
      .join(broadcast(prior), Seq("cls"))
      .withColumn("score_micro", $"ll_micro" + $"prior_micro")
    val pickW = Window.partitionBy($"doc_id")
      .orderBy($"score_micro".desc, $"cls")
    scoresRaw
      .withColumn("rn", row_number().over(pickW))
      .filter($"rn" === 1)
      .groupBy($"lang", $"cls".as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"pred_lang")
  }

  private val q271Sql = {
    val b = bucketSql("w", 256)
    def lnShift(arg: String) =
      s"CAST(ROUND(1000000.0 * LN($arg) + 1000000000.0) AS BIGINT)" +
        " - 1000000000"
    s"""WITH base AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN h <= 'b' THEN 'train' WHEN h <= 'd' THEN 'val'
       |         ELSE 'test' END AS split, text
       |  FROM (SELECT doc_id, lang,
       |          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS h, text
       |        FROM documents) raw),
       |toks AS (
       |  SELECT doc_id, lang, split, $b AS bk
       |  FROM (SELECT doc_id, lang, split,
       |          unnest(string_split(text, ' ')) AS w FROM base) t),
       |classes AS (
       |  SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM base WHERE split = 'train' GROUP BY 1),
       |ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM base
       |        WHERE split = 'train'),
       |clstok AS (
       |  SELECT lang AS cls, bk, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM toks WHERE split = 'train' GROUP BY 1, 2),
       |clstot AS (SELECT cls, CAST(SUM(c) AS BIGINT) AS nc
       |           FROM clstok GROUP BY 1),
       |model AS (
       |  SELECT cl.cls, s.b AS bk,
       |    ${lnShift("CAST(COALESCE(ct.c, 0) + 1 AS DOUBLE) / " +
         "CAST(tt.nc + 256 AS DOUBLE)")} AS lp_micro
       |  FROM (SELECT unnest(generate_series(0, 255)) AS b) s
       |  CROSS JOIN classes cl
       |  LEFT JOIN clstok ct ON ct.cls = cl.cls AND ct.bk = s.b
       |  JOIN clstot tt ON tt.cls = cl.cls),
       |prior AS (
       |  SELECT cls,
       |    ${lnShift("CAST(c.n_docs AS DOUBLE) / CAST(n.n AS DOUBLE)")}
       |      AS prior_micro
       |  FROM classes c, ntr n),
       |docb AS (
       |  SELECT doc_id, lang, bk, CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM toks WHERE split = 'test' GROUP BY 1, 2, 3),
       |scores AS (
       |  SELECT d.doc_id, d.lang, m.cls,
       |    CAST(SUM(d.cnt * m.lp_micro) AS BIGINT) + ANY_VALUE(p.prior_micro)
       |      AS score_micro
       |  FROM docb d JOIN model m ON m.bk = d.bk
       |  JOIN prior p ON p.cls = m.cls
       |  GROUP BY d.doc_id, d.lang, m.cls),
       |pick AS (
       |  SELECT doc_id, lang, cls,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id
       |      ORDER BY score_micro DESC, cls) AS rn
       |  FROM scores)
       |SELECT lang, cls AS pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM pick WHERE rn = 1
       |GROUP BY lang, cls ORDER BY lang, pred_lang""".stripMargin
  }

  // ---- q272: IR evaluation metrics -----------------------------------

  /** q272: RETRIEVAL EVALUATION — recall@k, MRR@k, DCG@k and NDCG@k of
    * the lexical ranker (q167's BM25 top-20) against graded semantic
    * ground truth (the exact-cosine top-20 of q262's dense side, graded
    * 3/2/1 by rank band 1-5/6-10/11-20) — the metric layer every search
    * / RAG stack needs next to its rankers: q167/q262/q263 RETRIEVE,
    * this query says how well. One row per cutoff k ∈ {5, 10, 20}.
    *
    * Exactness: relevance grades and ranks are integers; each DCG term
    * (2^rel − 1)/log₂(i+1) is computed as a correctly-rounded double in
    * identical operand order (LN(i+1)/LN(2) — the proven ln device),
    * micro-rounded per TERM, then integer-summed (never float-summed
    * across rows); NDCG is the integer ppm ratio of the two micro sums;
    * MRR is 10⁶ div first-relevant-rank. Both input lists are K-bounded
    * before any window, so the whole metric stage is O(K·|cutoffs|)
    * rows regardless of corpus size.
    */
  private def q272(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val K = 20
    val bmW = Window.orderBy($"bm25".desc, $"doc_id")
    val sys = bm25Scores(s, d)
      .orderBy($"bm25".desc, $"doc_id").limit(K)
      .withColumn("i", row_number().over(bmW).cast("long"))
      .select($"doc_id", $"i")
    val cosW = Window.orderBy($"cos".desc, $"vec_id")
    val truth = Vectors
      .topKCosine(Tables.embeddings(s, d), queryVecId = 0L, k = K)
      .withColumn("tr", row_number().over(cosW).cast("long"))
      .select($"vec_id".as("doc_id"), $"tr")
      .withColumn("rel",
        when($"tr" <= 5, 3L).when($"tr" <= 10, 2L).otherwise(1L))
      .select($"doc_id", $"rel")
    irMetrics(sys, truth, Seq(5L, 10L, 20L))
  }

  /** The q272 metric core over any ranked list `sys(doc_id, i)` and
    * graded truth `truth(doc_id, rel)` — exposed so Round14Spec can
    * drive planted rankings (the ideal permutation must score
    * NDCG = 10⁶ exactly; swapping in irrelevant docs must lower it).
    */
  private[graft] def irMetrics(
      sys: DataFrame,
      truth: DataFrame,
      cutoffs: Seq[Long]): DataFrame = {
    val s = sys.sparkSession
    import s.implicits._
    val nTruth = truth.count()
    val idealW = Window.orderBy($"rel".desc, $"doc_id")
    val ideal = truth
      .withColumn("j", row_number().over(idealW).cast("long"))
    val ks = s.range(0, cutoffs.length).select(
      element_at(array(cutoffs.map(lit): _*),
        ($"id" + 1).cast("int")).as("k"))
    def dcgTerm(rel: String, pos: String): String =
      s"""CAST(ROUND(1000000.0 *
         |  (CAST(POW(2.0, $rel) - 1.0 AS DOUBLE) /
         |   (LN(CAST($pos + 1 AS DOUBLE)) / LN(2.0)))) AS BIGINT)"""
        .stripMargin
    val sysK = sys
      .crossJoin(broadcast(ks)).filter($"i" <= $"k")
      .join(truth.select($"doc_id", $"rel"), Seq("doc_id"), "left")
      .groupBy($"k")
      .agg(
        sum(when($"rel".isNotNull, 1L).otherwise(0L)).as("hits"),
        min(when($"rel".isNotNull, $"i")).as("first_rel"),
        sum(when($"rel".isNotNull,
          expr(dcgTerm("rel", "i"))).otherwise(0L)).as("dcg_micro"))
    val idealK = ideal
      .crossJoin(broadcast(ks)).filter($"j" <= $"k")
      .groupBy($"k")
      .agg(sum(expr(dcgTerm("rel", "j"))).as("idcg_micro"))
    sysK
      .join(idealK, Seq("k"))
      .select($"k",
        lit(nTruth).as("n_truth"),
        $"hits",
        expr(s"(hits * 1000) DIV $nTruth").as("recall_permille"),
        coalesce(expr("1000000 DIV first_rel"), lit(0L)).as("mrr_micro"),
        $"dcg_micro",
        expr("(dcg_micro * 1000000) DIV idcg_micro").as("ndcg_ppm"))
      .orderBy($"k")
  }

  private val q272Sql = {
    def dcgTerm(rel: String, pos: String): String =
      s"""CAST(ROUND(1000000.0 *
         |  (CAST(POW(2.0, $rel) - 1.0 AS DOUBLE) /
         |   (LN(CAST($pos + 1 AS DOUBLE)) / LN(2.0)))) AS BIGINT)"""
        .stripMargin
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |posting AS (
       |  SELECT doc_id, term, COUNT(*) AS tf
       |  FROM toks GROUP BY doc_id, term),
       |lens AS (
       |  SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY doc_id),
       |n AS (
       |  SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
       |      AS BIGINT) AS tot_toks
       |  FROM documents),
       |qterms AS (
       |  SELECT term, (1000000 * n_docs) // df AS idf_ppm,
       |    n_docs, tot_toks
       |  FROM (SELECT term, COUNT(*) AS df FROM posting GROUP BY term) s, n
       |  ORDER BY df DESC, term LIMIT 3),
       |scored AS (
       |  SELECT p.doc_id,
       |    (q.idf_ppm * p.tf * 2200) //
       |      (p.tf * 1000 +
       |       (1200 * (250 + (750 * l.len * 1000) //
       |         ((q.tot_toks * 1000) // q.n_docs))) // 1000) AS score
       |  FROM posting p
       |  JOIN qterms q USING (term)
       |  JOIN lens l USING (doc_id)),
       |bm AS (
       |  SELECT doc_id, CAST(SUM(score) AS BIGINT) AS bm25
       |  FROM scored GROUP BY doc_id
       |  ORDER BY bm25 DESC, doc_id LIMIT 20),
       |sys AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
       |      AS i
       |  FROM bm),
       |cosd AS (
       |  SELECT vec_id AS doc_id,
       |    ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                           CAST(q.qe AS DOUBLE[])) /
       |          (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                                 CAST(embedding AS DOUBLE[]))) *
       |           sqrt(list_dot_product(CAST(q.qe AS DOUBLE[]),
       |                                 CAST(q.qe AS DOUBLE[])))), 4)
       |      AS cos
       |  FROM embeddings,
       |       (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
       |  WHERE vec_id <> 0
       |  ORDER BY cos DESC, vec_id LIMIT 20),
       |truth AS (
       |  SELECT doc_id, tr,
       |    CASE WHEN tr <= 5 THEN 3 WHEN tr <= 10 THEN 2 ELSE 1 END
       |      AS rel
       |  FROM (SELECT doc_id,
       |          CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id)
       |            AS BIGINT) AS tr
       |        FROM cosd) t),
       |ideal AS (
       |  SELECT doc_id, rel,
       |    CAST(ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS BIGINT)
       |      AS j
       |  FROM truth),
       |ks AS (SELECT CAST(unnest([5, 10, 20]) AS BIGINT) AS k),
       |sysk AS (
       |  SELECT ks.k,
       |    CAST(SUM(CASE WHEN t.rel IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS hits,
       |    MIN(CASE WHEN t.rel IS NOT NULL THEN s.i END) AS first_rel,
       |    CAST(SUM(CASE WHEN t.rel IS NOT NULL THEN
       |      ${dcgTerm("t.rel", "s.i")} ELSE 0 END) AS BIGINT)
       |      AS dcg_micro
       |  FROM sys s CROSS JOIN ks
       |  LEFT JOIN truth t ON t.doc_id = s.doc_id
       |  WHERE s.i <= ks.k GROUP BY ks.k),
       |idealk AS (
       |  SELECT ks.k,
       |    CAST(SUM(${dcgTerm("d.rel", "d.j")}) AS BIGINT) AS idcg_micro
       |  FROM ideal d CROSS JOIN ks WHERE d.j <= ks.k GROUP BY ks.k)
       |SELECT s.k AS k, CAST(20 AS BIGINT) AS n_truth, s.hits,
       |  (s.hits * 1000) // 20 AS recall_permille,
       |  COALESCE(1000000 // s.first_rel, 0) AS mrr_micro,
       |  s.dcg_micro,
       |  (s.dcg_micro * 1000000) // i.idcg_micro AS ndcg_ppm
       |FROM sysk s JOIN idealk i ON i.k = s.k
       |ORDER BY k""".stripMargin
  }

  // ---- q275: incremental inverted-index maintenance ------------------

  /** q167's exact BM25 arithmetic over a POSTING table `(term, doc_id,
    * tf)` with the corpus statistics derived from the postings
    * themselves: doc length = Σ tf (identical to q167's
    * whitespace-count framing, since `split` emits one token per
    * separator gap), n_docs = distinct doc_id (every doc has ≥ 1
    * posting row — `split` never returns empty), tot_toks = Σ tf. So a
    * posting table that equals the full corpus tokenization scores
    * IDENTICALLY to q167 — which is what lets the incremental path
    * register under q167's oracle verbatim.
    */
  private[graft] def bm25FromPostings(posting: DataFrame): DataFrame = {
    val s = posting.sparkSession
    import s.implicits._
    val lens = posting.groupBy($"doc_id").agg(sum($"tf").as("len"))
    val stats = posting.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = posting.agg(
      countDistinct($"doc_id").as("n_docs"),
      sum($"tf").as("tot_toks"))
    val qterms = stats
      .orderBy($"df".desc, $"term")
      .limit(3)
      .crossJoin(broadcast(n))
      .withColumn("idf_ppm", expr("(1000000 * n_docs) DIV df"))
      .select($"term", $"idf_ppm", $"n_docs", $"tot_toks")
    posting
      .join(broadcast(qterms), Seq("term"))
      .join(lens, Seq("doc_id"))
      .withColumn("avglen_milli", expr("(tot_toks * 1000) DIV n_docs"))
      .withColumn("norm_milli",
        expr("250 + (750 * len * 1000) DIV avglen_milli"))
      .withColumn("denom_milli",
        expr("tf * 1000 + (1200 * norm_milli) DIV 1000"))
      .withColumn("score",
        expr("(idf_ppm * tf * 2200) DIV denom_milli"))
      .groupBy($"doc_id")
      .agg(sum($"score").as("bm25"), count(lit(1)).as("n_qterms"))
  }

  /** Per-SF staging root for q275's persisted posting store. */
  private[graft] def q275StoreRoot(d: String): String = {
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    s"target/stage_corpus/q275_index_$tag"
  }

  /** The "today's job" half of q275 — probe-free posting merge: union
    * the persisted base postings with the delta's, collapsing by
    * (term, doc_id) with `max(tf)` so replaying an already-applied
    * delta is a NO-OP (the q177 idempotence contract, here for index
    * maintenance). Returns the merged postings AFTER round-tripping
    * them through the updated store, so the output provably comes from
    * what tomorrow's job will read.
    */
  private[graft] def indexMergeStep(
      s: SparkSession,
      delta: DataFrame,
      storeIn: String,
      storeOut: String): DataFrame = {
    import s.implicits._
    s.read.parquet(storeIn)
      .unionByName(delta)
      .groupBy($"term", $"doc_id")
      .agg(max($"tf").as("tf"))
      .repartition($"term")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(storeOut)
    s.read.parquet(storeOut)
  }

  // ---- q321: index-store compaction -----------------------------------

  /** Per-partition file-count/byte report of a `partitionBy` store. */
  private[graft] final case class StoreLayout(
      dirs: Map[String, (Int, Long)]) {
    def files: Int = dirs.valuesIterator.map(_._1).sum
    def bytes: Long = dirs.valuesIterator.map(_._2).sum
  }

  private[graft] def storeLayout(dir: String): StoreLayout = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val parts = scala.util.Using.resource(
      java.nio.file.Files.list(root)) { l =>
      l.iterator().asScala
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          p.getFileName.toString.contains("=")).toSeq
    }
    StoreLayout(parts.map { p =>
      val fs = scala.util.Using.resource(
        java.nio.file.Files.list(p)) { l =>
        l.iterator().asScala
          .filter(_.toString.endsWith(".parquet")).toSeq
      }
      p.getFileName.toString ->
        (fs.size, fs.map(java.nio.file.Files.size(_)).sum)
    }.toMap)
  }

  /** INDEX-STORE COMPACTION — the maintenance verb a long-lived
    * incremental store needs (the r16 verdict's missing #2): q275/q184
    * stores grow by APPEND, so after months of deltas each partition
    * directory holds a pile of small files; this rewrites the store
    * into size-targeted files PER PARTITION while preserving the
    * directory layout (partition pruning keeps working) and every row
    * bit-exactly. The file plan is q122's arithmetic applied per
    * partition — nOut(part) = ceil(partBytes / targetBytes), from the
    * driver's METADATA listing (bounded by the partition count, never
    * a data read) — and the rewrite is ONE hash shuffle routing each
    * row to one of its partition's nOut slots: no driver loop over
    * data, no global sort, each output task writes whole files for
    * the (partition, slot) groups it owns. Returns the (before, after)
    * layouts plus the SKIP count so callers can prove both the
    * collapse and that right-sized shards paid nothing.
    */
  private[graft] def compactPartitionedStore(
      s: SparkSession, inDir: String, outDir: String, partCol: String,
      slotCol: String,
      targetBytes: Long): (StoreLayout, StoreLayout, Int) = {
    import s.implicits._
    val before = storeLayout(inDir)
    // the rewrite target must start EMPTY: the skip path hard-copies
    // files under their original names, and a stale prior attempt's
    // differently-named part files would silently double every skipped
    // dir (SaveMode.Overwrite only cleans the dirs the SHUFFLE writes)
    graft.streaming.Streams.deleteStaged(java.nio.file.Paths.get(outDir))
    // per-dir decision from the metadata listing: a dir already at or
    // under its size-derived file target is SKIPPED — its files are
    // hard-copied byte-for-byte, paying zero decode/shuffle/encode.
    // On a month-old 100 TB store that is ~99% of the shards; only the
    // delta-fragmented minority pays the rewrite.
    val plan = before.dirs.toSeq.map { case (d, (files, bytes)) =>
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
      (d, d.substring(d.indexOf('=') + 1), nOut, files > nOut)
    }
    val frag = plan.collect { case (_, pv, nOut, true) => (pv, nOut) }
    val skipped = plan.collect { case (d, _, _, false) => d }
    if (frag.nonEmpty) {
      val planDf = broadcast(frag.toDF("_pv", "_n_out"))
      s.read.parquet(inDir)
        .join(planDf, col(partCol).cast("string") === $"_pv")
        .withColumn("_slot", pmod(hash(col(slotCol)), $"_n_out"))
        .repartition(col(partCol), $"_slot")
        .drop("_pv", "_n_out", "_slot")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy(partCol)
        .parquet(outDir)
    }
    for (d <- skipped) {
      val src = java.nio.file.Paths.get(inDir, d)
      val dst = java.nio.file.Paths.get(outDir, d)
      java.nio.file.Files.createDirectories(dst)
      scala.util.Using.resource(java.nio.file.Files.list(src)) { l =>
        import scala.jdk.CollectionConverters._
        l.iterator().asScala
          .filter(_.toString.endsWith(".parquet"))
          .foreach(f => java.nio.file.Files.copy(f,
            dst.resolve(f.getFileName),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING))
      }
    }
    (before, storeLayout(outDir), skipped.size)
  }

  /** q321: INCREMENTAL-INDEX COMPACTION, oracle-gated — the q275
    * posting store rebuilt as a production `partitionBy(term-bucket)`
    * layout, fragmented the way real maintenance fragments it (a base
    * write plus per-delta APPENDs, each spraying small files into
    * every bucket directory), then compacted by
    * [[compactPartitionedStore]] and SERVED: the registered output is
    * q167's BM25 top-10 computed from the compacted store, and the
    * oracle is LITERALLY q167's full-corpus SQL — a green row proves
    * the rewrite preserved every posting bit-exactly (the q122
    * discipline, upgraded from a flat table to a partitioned store).
    * Hard `require`s prove the file count actually collapsed to the
    * size-derived target and that no partition directory was created
    * or lost. Round17Spec additionally pins the per-directory file
    * counts and that a bucket-pruned read of the compacted store
    * still prunes (PartitionFilters).
    */
  /** Stage a DELIBERATELY FRAGMENTED bucketed posting store at `frag`:
    * a base write plus two delta APPENDs, each repartitioned wide so
    * every bucket directory accumulates small files — months of
    * incremental maintenance in miniature. Shared by q321 (offline
    * compaction) and q327 (the same rewrite under a LIVE serving
    * stream).
    */
  private[graft] def fragmentPostingsStore(
      s: SparkSession, d: String, frag: String): Unit = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    // the corpus arrives as one split at bench SFs, so each of the
    // three staging writes ran its tokenize-explode on one core —
    // layout-adaptive spread (no-op at production split counts), same
    // device as the q301/q343 sites (r21, guide §2.5)
    def postings(df: DataFrame) = Scale.spreadIfNarrow(df, $"doc_id")
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"term", $"doc_id")
      .agg(count(lit(1)).as("tf"))
      .withColumn("pb", pmod(hash($"term"), lit(8)))
    postings(docs.where($"doc_id" % 10 < 8)).repartition(8)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("pb").parquet(frag)
    for (slice <- Seq(8, 9))
      postings(docs.where($"doc_id" % 10 === slice)).repartition(8)
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("pb").parquet(frag)
  }

  private def q321(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val root = s"target/stage_corpus/q321_compact_$tag"
    val frag = s"$root/fragmented"
    val tidy = s"$root/compacted"
    fragmentPostingsStore(s, d, frag)
    val (before, after, _) = compactPartitionedStore(
      s, frag, tidy, "pb", "term", targetBytes = 256L * 1024)
    require(before.dirs.keySet == after.dirs.keySet,
      s"q321: compaction changed the partition layout: " +
        s"${before.dirs.keySet} -> ${after.dirs.keySet}")
    val nOutTarget = before.dirs.values
      .map { case (_, b) => math.max(1L, (b + 256L * 1024 - 1) / (256L * 1024)) }
      .sum
    require(after.files <= nOutTarget,
      s"q321: compactor wrote ${after.files} files for target $nOutTarget")
    // the 3 writes put >= 3 files in every touched dir; the collapse
    // proof applies where the size arithmetic says input was
    // over-fragmented (q122's rule)
    if (nOutTarget <= before.files / 3)
      require(after.files <= before.files / 3,
        s"q321: compaction left ${after.files} of ${before.files} files")
    bm25FromPostings(
      s.read.parquet(tidy).select($"term", $"doc_id", $"tf"))
      .orderBy($"bm25".desc, $"doc_id")
      .limit(10)
  }

  /** q275: INCREMENTAL INVERTED-INDEX MAINTENANCE — the q177/q260
    * store contract extended to retrieval: today's crawl must become
    * searchable WITHOUT re-tokenizing yesterday's corpus. Yesterday's
    * job persists the posting sufficient statistics (term, doc_id, tf)
    * — the index IS its mergeable sufficient statistic — hash-
    * distributed by term; today's job tokenizes ONLY the delta
    * (doc_id%10 ∈ {8,9}), merges by key, writes tomorrow's store, and
    * serves BM25 from the store it just wrote. Because the merged
    * postings equal the full-corpus tokenization EXACTLY (disjoint doc
    * batches), the oracle is LITERALLY q167's full-corpus SQL: a green
    * row proves merge ≡ rebuild, and Round14Spec adds the replay
    * proof (re-applying the delta changes nothing) and row-for-row
    * equality with q167 itself.
    *
    * Scale: the delta is the only text scanned; the merge is one
    * key-partitioned aggregate co-partitioned with the store layout;
    * the scorer's corpus stats reduce from the posting table (never
    * from raw text).
    */
  private def q275(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val root = q275StoreRoot(d)
    val docs = Tables.documents(s, d)
    def postings(df: DataFrame) = df
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"term", $"doc_id")
      .agg(count(lit(1)).as("tf"))
    postings(docs.where($"doc_id" % 10 < 8))
      .repartition($"term")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/v1")
    val merged = indexMergeStep(
      s, postings(docs.where($"doc_id" % 10 >= 8)),
      s"$root/v1", s"$root/v2")
    bm25FromPostings(merged)
      .orderBy($"bm25".desc, $"doc_id")
      .limit(10)
  }

  // ---- q334: exact budget apportionment --------------------------------

  /** q334: EXACT TOKEN-BUDGET APPORTIONMENT — the integer half the
    * q60/q148 keep-fraction mixtures leave open: given a TOTAL budget
    * (1000 docs), allocate per-language quotas that sum to the budget
    * EXACTLY (largest-remainder / Hamilton apportionment: base =
    * floor(n·B / total), the leftover seats go to the largest integer
    * remainders with a deterministic lang tie-break), then MATERIALIZE
    * the sample — each language's quota filled by its md5-ranked first
    * quota docs, so the same corpus always ships the same sample and
    * n_sampled ≡ min(n_docs, quota) per language (quota EXACTNESS
    * always holds; fill exactness holds under sufficient supply — when
    * the budget exceeds a language's doc count the sample honestly
    * undershoots rather than over-drawing another language, which is
    * the contract a mixture negotiation wants; a rate-based sampler
    * can't promise either). All integer arithmetic; DuckDB replays the
    * apportionment and the md5 ranks exactly. Scale: the apportionment
    * runs on the |langs|-row histogram (its global windows are
    * DOMAIN-bounded — the q148 note); the sample rank is a partitioned
    * per-lang window over the corpus (WindowGroupLimit shape).
    */
  private def q334(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val budget = 1000L
    val docs = Tables.documents(s, d)
    val c = docs.groupBy($"lang").agg(count(lit(1)).as("n"))
    val t = c.agg(sum($"n").as("total"))
    val q = c.crossJoin(broadcast(t))
      .withColumn("base", expr(s"(n * $budget) DIV total"))
      .withColumn("rem", expr(s"(n * $budget) % total"))
    val x = q.agg((lit(budget) - sum($"base")).as("extra"))
    // |langs|-row frame, pinned once: without this the histogram branch
    // (corpus scan + rank + 1-row crosses) is re-derived by every
    // consumer below — 4+ corpus scans where 2 suffice
    val ranked = q
      .withColumn("rk", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy($"rem".desc, $"lang")))
      .crossJoin(broadcast(x))
      .withColumn("bonus",
        when($"rk" <= $"extra", 1L).otherwise(0L))
      .withColumn("quota", $"base" + $"bonus")
      .select($"lang", $"n".as("n_docs"), $"base".as("base_quota"),
        $"bonus", $"quota")
      .localCheckpoint()
    // materialize: each lang's md5-ranked first `quota` docs
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang")
      .orderBy(md5(concat(lit("s:"), $"doc_id".cast("string"))
        .cast("binary")), $"doc_id")
    val sampled = docs.select($"lang", $"doc_id")
      .withColumn("srk", row_number().over(w))
      .join(ranked.select($"lang", $"quota"), Seq("lang"))
      .where($"srk" <= $"quota")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_sampled"))
    ranked.join(sampled, Seq("lang"), "left")
      .na.fill(0L, Seq("n_sampled"))
      .select($"lang", $"n_docs", $"base_quota", $"bonus", $"quota",
        $"n_sampled")
      .orderBy($"lang")
  }

  private val q334Sql =
    """WITH c AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM documents GROUP BY lang),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
      |q AS (
      |  SELECT lang, n, (n * 1000) // total AS base,
      |    (n * 1000) % total AS rem
      |  FROM c, t),
      |x AS (SELECT CAST(1000 - SUM(base) AS BIGINT) AS extra FROM q),
      |r AS (
      |  SELECT lang, n, base, rem,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk
      |  FROM q),
      |quotas AS (
      |  SELECT lang, n AS n_docs, base AS base_quota,
      |    CASE WHEN rk <= x.extra THEN 1 ELSE 0 END AS bonus,
      |    base + CASE WHEN rk <= x.extra THEN 1 ELSE 0 END AS quota
      |  FROM r, x),
      |srk AS (
      |  SELECT lang, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5('s:' || CAST(doc_id AS VARCHAR)), doc_id)
      |      AS srk
      |  FROM documents),
      |sam AS (
      |  SELECT s.lang, CAST(COUNT(*) AS BIGINT) AS n_sampled
      |  FROM srk s JOIN quotas qq ON s.lang = qq.lang
      |  WHERE s.srk <= qq.quota GROUP BY s.lang)
      |SELECT qq.lang, CAST(qq.n_docs AS BIGINT) AS n_docs,
      |  CAST(qq.base_quota AS BIGINT) AS base_quota,
      |  CAST(qq.bonus AS BIGINT) AS bonus,
      |  CAST(qq.quota AS BIGINT) AS quota,
      |  CAST(COALESCE(sam.n_sampled, 0) AS BIGINT) AS n_sampled
      |FROM quotas qq LEFT JOIN sam ON sam.lang = qq.lang
      |ORDER BY qq.lang""".stripMargin

  // ---- q340: token-grain budget apportionment ---------------------------

  /** q340: TOKEN-GRAIN BUDGET APPORTIONMENT — q334's integer-exact
    * Hamilton quotas renegotiated in the unit training mixtures are
    * actually priced in: TOKENS. Per-language quotas are
    * largest-remainder apportioned over token MASS (they sum to the
    * 10000-token budget EXACTLY), and each language's quota is filled
    * by its md5-ranked PACKED-TOKEN PREFIX — the maximal prefix of the
    * deterministic doc order whose cumulative token count fits the
    * quota (q131's packing discipline as the fill rule, closing the
    * verdict's q334⇄shard-layer loop): Σ shipped tokens ≤ budget by
    * construction, with the exact integer slack reported per language
    * (the first unshipped doc would overflow — maximality is the
    * cumulative rule itself, replayed by the oracle). All integer
    * arithmetic; DuckDB replays apportionment, md5 ranks, and the
    * prefix sums exactly.
    *
    * Scale: the apportionment runs on the |langs|-row histogram
    * (domain-bounded global window, pinned once — q334's two-scan
    * discipline), and the FILL's running sum is [[Rank.runningSum]]'s
    * two-pass device over (lang, md5, doc_id) with per-language
    * offsets from a broadcast |langs|-row aggregate — no per-language
    * single-task window even when one language is 90% of the corpus
    * (the skew q334's partitioned row_number would funnel into one
    * task; token mass makes the skew certain at 100 TB, so the fill
    * is built on the distributed rank device from the start).
    */
  private def q340(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val budget = 10000L
    val docs = Tables.documents(s, d)
      .select($"lang", $"doc_id",
        size(split($"text", " ")).cast("long").as("ntok"))
    val c = docs.groupBy($"lang").agg(sum($"ntok").as("n"))
    val t = c.agg(sum($"n").as("total"))
    val q = c.crossJoin(broadcast(t))
      .withColumn("base", expr(s"(n * $budget) DIV total"))
      .withColumn("rem", expr(s"(n * $budget) % total"))
    val x = q.agg((lit(budget) - sum($"base")).as("extra"))
    val ranked = q
      .withColumn("rk", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy($"rem".desc, $"lang")))
      .crossJoin(broadcast(x))
      .withColumn("bonus", when($"rk" <= $"extra", 1L).otherwise(0L))
      .withColumn("quota", $"base" + $"bonus")
      .select($"lang", $"n".as("n_tokens"), $"base".as("base_quota"),
        $"bonus", $"quota")
      .localCheckpoint() // |langs|-row frame, pinned once (q334)
    val keyed = docs.withColumn("okey",
      md5(concat(lit("t:"), $"doc_id".cast("string")).cast("binary")))
    val cum = Rank.runningSum(keyed,
      Seq($"lang", $"okey", $"doc_id"), $"ntok", "cum")
    // per-lang offset: the global running sum just before the lang's
    // first row — min(cum − ntok) is that row's predecessor total
    // (cum − ntok is nondecreasing in the order), a |langs|-row agg
    val offs = cum.groupBy($"lang").agg(min($"cum" - $"ntok").as("off"))
    val shipped = cum.join(broadcast(offs), Seq("lang"))
      .withColumn("lcum", $"cum" - $"off")
      .join(broadcast(ranked.select($"lang", $"quota")), Seq("lang"))
      .where($"lcum" <= $"quota")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"ntok").as("tokens_shipped"))
    ranked.join(shipped, Seq("lang"), "left")
      .na.fill(0L, Seq("n_docs", "tokens_shipped"))
      .withColumn("slack", $"quota" - $"tokens_shipped")
      .select($"lang", $"n_tokens", $"base_quota", $"bonus", $"quota",
        $"n_docs", $"tokens_shipped", $"slack")
      .orderBy($"lang")
  }

  private val q340Sql =
    """WITH dt AS (
      |  SELECT lang, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
      |  FROM documents),
      |c AS (SELECT lang, CAST(SUM(ntok) AS BIGINT) AS n
      |  FROM dt GROUP BY lang),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
      |q AS (
      |  SELECT lang, n, (n * 10000) // total AS base,
      |    (n * 10000) % total AS rem
      |  FROM c, t),
      |x AS (SELECT CAST(10000 - SUM(base) AS BIGINT) AS extra FROM q),
      |r AS (
      |  SELECT lang, n, base, rem,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk
      |  FROM q),
      |quotas AS (
      |  SELECT lang, n AS n_tokens, base AS base_quota,
      |    CASE WHEN rk <= x.extra THEN 1 ELSE 0 END AS bonus,
      |    base + CASE WHEN rk <= x.extra THEN 1 ELSE 0 END AS quota
      |  FROM r, x),
      |cum AS (
      |  SELECT lang, doc_id, ntok,
      |    SUM(ntok) OVER (PARTITION BY lang
      |      ORDER BY md5('t:' || CAST(doc_id AS VARCHAR)), doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lcum
      |  FROM dt),
      |sam AS (
      |  SELECT cc.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(cc.ntok) AS BIGINT) AS tokens_shipped
      |  FROM cum cc JOIN quotas qq ON cc.lang = qq.lang
      |  WHERE cc.lcum <= qq.quota GROUP BY cc.lang)
      |SELECT qq.lang, qq.n_tokens,
      |  CAST(qq.base_quota AS BIGINT) AS base_quota,
      |  CAST(qq.bonus AS BIGINT) AS bonus,
      |  CAST(qq.quota AS BIGINT) AS quota,
      |  CAST(COALESCE(sam.n_docs, 0) AS BIGINT) AS n_docs,
      |  CAST(COALESCE(sam.tokens_shipped, 0) AS BIGINT)
      |    AS tokens_shipped,
      |  CAST(qq.quota - COALESCE(sam.tokens_shipped, 0) AS BIGINT)
      |    AS slack
      |FROM quotas qq LEFT JOIN sam ON sam.lang = qq.lang
      |ORDER BY qq.lang""".stripMargin

  // ---- q331: retrieval-index erasure ----------------------------------

  /** Build-if-absent FULL-corpus posting store — the persisted index
    * state q331's erasure filters (hash-distributed by term, the q275
    * layout; keyed on source freshness). An erasure-family store: a
    * superseded sibling would RETAIN erased posting rows on disk, so it
    * sweeps.
    */
  private[graft] val fullPostings = StoreGuard.declare("target/stage_corpus",
      "fullpostings", "documents.parquet", sweep = true,
      payload = Seq("postings")) { (s, d, root) =>
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"term", $"doc_id")
      .agg(count(lit(1)).as("tf"))
      .repartition($"term")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$root/postings")
  }

  /** The ONE spelling of q331's erasure predicate tag (doc_id % 9 == 4
    * is the erased set; the tag names the SURVIVOR predicate).
    */
  private[graft] val PostingErasedTag = "erased_mod9ne4"

  /** q331's PHYSICAL erase, through the shared erase transaction
    * ([[StoreGuard.declareErase]]): the posting store minus the erased
    * docs' rows into the predicate-tagged sibling; the superseded
    * pre-erasure index is vacuumed by the guard (crash-safe order +
    * steady-state sweep). Round17Spec asserts zero erased rows on disk
    * and the vacuumed base.
    */
  private[graft] val erasedPostings = StoreGuard.declareErase(fullPostings,
      PostingErasedTag, payload = Seq("postings")) { (s, _, base, out) =>
    s.read.parquet(s"$base/postings")
      .where(col("doc_id") % 9 =!= 4)
      .repartition(col("term"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$out/postings")
  }

  private[graft] def erasedPostingStore(
      s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${erasedPostings.ensure(s, d)}/postings")

  /** q331: RETRIEVAL-INDEX ERASURE — the erasure family (q326 manifest,
    * q329 statistic, q330 stream state) applied to the SEARCH INDEX:
    * erase docs (doc_id % 9 == 4) from the persisted posting store
    * without re-tokenizing anything. Postings are additive per
    * (term, doc_id), so erasure is a state-side REWRITE (the erased
    * rows physically leave the index — the store itself forgets) — but
    * the
    * SCORER renormalizes: document frequencies, N, and the average
    * length all shrink, so surviving docs' BM25 scores move and the
    * query-term selection itself (top df) can change. The oracle is
    * q167's SQL over the corpus WITHOUT the erased docs — a green row
    * proves the filtered index serves exactly what a from-scratch
    * rebuild on the reduced corpus would serve (erase ≡
    * rebuild-without at the retrieval layer). Scale: the erase reads
    * only the posting store (term-partitioned, delta-sized filter);
    * the scorer's corpus stats reduce from the postings, never from
    * raw text.
    */
  private def q331(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    bm25FromPostings(erasedPostingStore(s, d))
      .orderBy($"bm25".desc, $"doc_id")
      .limit(10)
  }

  // ---- q319: resumable deterministic data order ----------------------

  /** q319: RESUMABLE DATA ORDER — the dataloader contract between the
    * corpus and the trainer that q131 (packing) and q201 (curriculum)
    * leave open: a seeded, per-epoch deterministic global shuffle with
    * crash RESUME — given a trainer checkpoint at (epoch, step), the
    * next `take` documents come back in order without replaying
    * anything before them, crossing epoch boundaries when the resume
    * point is near an epoch's end. The order key is md5(seed:epoch:
    * doc_id) (each epoch re-salts, so epochs are independent
    * permutations — the standard epoch reshuffle), `step` is the md5
    * rank within the epoch, `shard = step DIV shardSize` is the worker
    * slice. Everything is md5-exact integers/strings, so DuckDB
    * replays the entire schedule (its oracle uses the textbook
    * ROW_NUMBER window — affordable at oracle scale — which
    * independently proves the distributed plan computes exactly the
    * rank semantics it replaced, the q131 argument). Scale: step
    * assignment is [[resumableSchedule]]'s two-pass prefix sum — no
    * single-task window anywhere — and the REGISTERED query itself
    * builds [[scheduleStore]]'s manifest (build-if-absent, keyed on
    * corpus + seed + epochs + shardSize, written
    * `partitionBy(epoch, shard)`) then resumes by reading it with the
    * shard cut FIRST: pre-checkpoint shards are pruned at the scan
    * (PartitionFilters plan-locked) and the tail ends in
    * filter → TakeOrderedAndProject.
    */
  /** The schedule itself — `(epoch, step, doc_id)` for every doc in
    * every epoch, step assigned by [[packShards]]'s two-pass prefix-sum
    * device rather than a per-epoch `row_number` window (which would
    * funnel the whole corpus through ONE task per epoch — the exact
    * shape this round removed from sppmi): range-partition on
    * (epoch, okey, doc_id), count rows per (partition, epoch), scan the
    * bounded per-partition counts into broadcast offsets, then assign
    * each row its offset + local rank. Output is localCheckpointed;
    * [[scheduleStore]] persists it `partitionBy(epoch, shard)` as the
    * manifest the registered resume reads.
    */
  private[graft] def resumableSchedule(
      docs: DataFrame, seed: String, epochs: Int,
      nParts: Int = 32): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs
      .select(col("doc_id").cast("long").as("doc_id"))
      .crossJoin(broadcast(spark.range(epochs).toDF("epoch")))
      .withColumn("okey", md5(concat(lit(seed), lit(":"), col("epoch"),
        lit(":"), col("doc_id")).cast("binary")))
      .repartitionByRange(nParts, col("epoch"), col("okey"), col("doc_id"))
      .sortWithinPartitions(col("epoch"), col("okey"), col("doc_id"))
      .select(col("epoch"), col("okey"), col("doc_id"))
      .as[(Long, String, Long)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // pass 1: per-(partition, epoch) row counts — nParts×epochs rows,
      // a bounded driver collect
      val partCounts = keyed
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val counts = scala.collection.mutable.LinkedHashMap
            .empty[Long, Long]
          it.foreach(r => counts(r._1) = counts.getOrElse(r._1, 0L) + 1)
          counts.iterator.map { case (e, c) => (pid, e, c) }
        }
        .collect()
      val offsets: Map[(Int, Long), Long] = partCounts
        .groupBy(_._2)
        .flatMap { case (e, arr) =>
          val inOrder = arr.sortBy(_._1)
          inOrder.zip(inOrder.scanLeft(0L)(_ + _._3))
            .map { case ((pid, _, _), off) => ((pid, e), off) }
        }
      val bOff = spark.sparkContext.broadcast(offsets)
      // pass 2: offset + local rank (range partitioning makes ascending
      // partition ids the global (epoch, okey, doc_id) order)
      keyed
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val runs = scala.collection.mutable.HashMap.empty[Long, Long]
          it.map { case (e, _, d) =>
            val st = runs.getOrElse(e, bOff.value.getOrElse((pid, e), 0L))
            runs(e) = st + 1
            (e, st, d)
          }
        }
        .toDF("epoch", "step", "doc_id")
        .localCheckpoint()
    } finally keyed.unpersist()
  }

  /** Build-if-absent schedule MANIFEST — what the REGISTERED q319
    * reads: the two-pass schedule written `partitionBy(epoch, shard)`,
    * the layout that makes resume a PARTITION-PRUNED read (shards
    * before the checkpoint are never scanned). Keyed on the corpus
    * (mtime+length) AND the schedule parameters (seed, epochs,
    * shardSize), so a parameter change builds a fresh manifest.
    */
  private val schedules = StoreGuard.family("schedule",
      Seq(("graft", 2, 64L), ("graft", 2, 16L))) {
    case (seed, epochs, shardSize) =>
      StoreGuard.declare("target/graft_corpus_store", "sched",
          "documents.parquet", extra = s"$seed:$epochs:$shardSize",
          payload = Seq("manifest")) { (s, d, root) =>
        resumableSchedule(Tables.documents(s, d), seed, epochs)
          .withColumn("shard", expr(s"step DIV $shardSize"))
          .write.mode("overwrite").partitionBy("epoch", "shard")
          .parquet(s"$root/manifest")
      }
  }

  private[graft] def scheduleStore(
      s: SparkSession, d: String, seed: String, epochs: Int,
      shardSize: Long): String =
    s"${schedules((seed, epochs, shardSize)).ensure(s, d)}/manifest"

  private def q319(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val shardSize = 64L
    val resumeStep = 450L
    // the resume point's shard is DERIVED, so the partition cut and
    // the row cut can never disagree
    val shard0 = resumeStep / shardSize
    val path = scheduleStore(s, d, "graft", epochs = 2,
      shardSize = shardSize)
    s.read.parquet(path)
      // partition prune FIRST (epoch/shard are directory columns —
      // pre-checkpoint shards of epoch 0 are never read), then the
      // row-level step cut inside the boundary shard
      .filter($"epoch" > 0 || ($"epoch" === 0 && $"shard" >= shard0))
      .filter($"epoch" > 0 || $"step" >= resumeStep)
      .select($"epoch".cast("long").as("epoch"), $"step",
        $"shard".cast("long").as("shard"), $"doc_id")
      .orderBy($"epoch", $"step")
      .limit(100)
  }

  private val q319Sql =
    """WITH ep AS (SELECT CAST(epoch AS BIGINT) AS epoch
      |  FROM (VALUES (0), (1)) e(epoch)),
      |ord AS (
      |  SELECT e.epoch, d.doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY e.epoch
      |      ORDER BY md5('graft:' || CAST(e.epoch AS VARCHAR) || ':'
      |        || CAST(d.doc_id AS VARCHAR)), d.doc_id) - 1 AS step
      |  FROM documents d, ep e)
      |SELECT epoch, step, step // 64 AS shard, doc_id
      |FROM ord
      |WHERE epoch > 0 OR (epoch = 0 AND step >= 450)
      |ORDER BY epoch, step
      |LIMIT 100""".stripMargin

  /** q324: TRAINER-WORKER SHARD READ — q319's manifest at fan-out,
    * registered (Round17Spec proves the W-worker union/disjointness
    * property; this is the per-worker verb itself, driver-gated):
    * worker w of epoch e reads `shard = w` from the
    * partitionBy(epoch, shard) manifest — the cut is TWO directory
    * columns, so the scan lists and reads exactly ONE shard directory
    * however large the corpus (the q105/q319 pruning argument, at the
    * granularity a dataloader actually fetches). The oracle replays
    * the full textbook rank and cuts the same shard — a green row
    * certifies the persisted manifest slice IS the schedule slice.
    * shardSize 16 here (vs q319's 64) also proves the manifest store
    * keys on its parameters: two schedules coexist, neither clobbers.
    */
  private def q324(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val path = scheduleStore(s, d, "graft", epochs = 2, shardSize = 16L)
    s.read.parquet(path)
      .filter($"epoch" === 1 && $"shard" === 3)
      .select($"epoch".cast("long").as("epoch"), $"step",
        $"shard".cast("long").as("shard"), $"doc_id")
      .orderBy($"step")
  }

  private val q324Sql =
    """WITH ord AS (
      |  SELECT d.doc_id,
      |    ROW_NUMBER() OVER (ORDER BY
      |      md5('graft:1:' || CAST(d.doc_id AS VARCHAR)), d.doc_id) - 1
      |      AS step
      |  FROM documents d)
      |SELECT CAST(1 AS BIGINT) AS epoch, step, step // 16 AS shard,
      |  doc_id
      |FROM ord WHERE step // 16 = 3
      |ORDER BY step""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q319_resumable_order", q319, Some(q319Sql)),
    QueryDef("q324_worker_shard", q324, Some(q324Sql)),
    // incremental index maintenance: oracle = q167's full-corpus SQL
    // verbatim — the driver's green row IS the merge ≡ rebuild proof
    QueryDef("q275_incremental_index", q275, Some(q167Sql)),
    // store compaction: oracle = q167's SQL verbatim again — a green
    // row proves the layout rewrite preserved every posting bit-exactly
    QueryDef("q321_index_compaction", q321, Some(q167Sql)),
    // the same rewrite under a LIVE canary stream with a pointer swap
    // and rollback: the oracle replays q167 once per phase, so a green
    // row certifies zero-downtime + bit-exactness together
    QueryDef("q327_live_compaction",
      (s, d) => graft.streaming.Streams.streamLiveCompaction(s, d),
      Some(q327Sql)),
    // index erasure: state-side posting filter, oracle = BM25 rebuilt
    // from the reduced corpus — df/N/avglen renormalization certified
    QueryDef("q331_index_erasure", q331, Some(q331Sql)),
    // exact largest-remainder apportionment + deterministic fill
    QueryDef("q334_budget_apportion", q334, Some(q334Sql)),
    // token-grain Hamilton quotas + packed-token-prefix fill, integer
    // exact and fully replayed by the oracle
    QueryDef("q340_token_apportion", q340, Some(q340Sql)),
    QueryDef("q272_ir_metrics", q272, Some(q272Sql)),
    QueryDef("q268_dsir_selection", q268, Some(q268Sql)),
    QueryDef("q271_nb_classifier", q271, Some(q271Sql)),
    QueryDef("q258_pmi_collocations", q258, Some(q258Sql)),
    QueryDef("q201_curriculum_shards", q201, Some(q201Sql)),
    QueryDef("q205_kl_divergence", q205, Some(q205Sql)),
    QueryDef("q202_contrastive_pairs", q202, Some(q202Sql)),
    QueryDef("q166_source_caps", q166, Some(q166Sql)),
    QueryDef("q167_bm25_search", q167, Some(q167Sql)),
    QueryDef("q262_hybrid_rrf", q262, Some(q262Sql)),
    QueryDef("q168_phrase_search", q168, Some(q168Sql)),
    QueryDef("q53_train_split", q53, Some(q53Sql)),
    QueryDef("q54_doc_chunks", q54, Some(q54Sql)),
    QueryDef("q55_embed_neardup", q55, Some(q55Sql)),
    QueryDef("q56_fuzzy_brand", q56, Some(q56Sql)),
    QueryDef("q60_corpus_mix", q60, Some(q60Sql)),
    QueryDef("q64_tfidf_terms", q64, Some(q64Sql)),
    QueryDef("q65_contamination", q65, Some(q65Sql)),
    QueryDef("q68_dup_bigrams", q68, Some(q68Sql)),
    QueryDef("q79_corpus_manifest", q79, Some(q79Sql)),
    QueryDef("q90_stratified_sample", q90, Some(q90Sql)),
    QueryDef("q109_fixed_k_sample", q109, Some(q109Sql)),
    QueryDef("q124_ngram_decontam", q124, Some(q124Sql)),
    QueryDef("q301_fuzzy_decontam", q301, Some(q301Sql)),
    QueryDef("q141_bigram_lm", q141, Some(q141Sql)),
    QueryDef("q144_rag_chunks", q144, Some(q144Sql)),
    QueryDef("q131_shard_packing", q131, Some(q131Sql)),
    QueryDef("q132_top_ngram", q132, Some(q132Sql)),
    QueryDef("q135_manifest_v2", q135, Some(q135Sql)),
    QueryDef("q146_weighted_sample", q146, Some(q146Sql)),
    // streaming twin: top-k under a total order is batching- and
    // replay-independent, so the oracle is batch q146's SQL VERBATIM
    QueryDef("q303_stream_weighted_sample",
      (s, d) => graft.streaming.Streams.streamWeightedSample(s, d),
      Some(q146Sql)),
    QueryDef("q148_temp_mixture", q148, Some(q148Sql)),
    QueryDef("q150_snapshot_diff", q150, Some(q150Sql)),
  )
}
