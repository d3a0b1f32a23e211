package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-18 gates. Headline items from the r17 verdict: the erasure
  * family reaches the CROSS-RUN DEDUP STORES (q336 passage
  * fingerprints, q337 MinHash signatures — remove AND re-elect /
  * re-cascade), one composed AUDIT CERTIFICATE sweeps every
  * declared erase store (q338 — with the negative fixture and
  * the source-level completeness lock that keep it honest), the bulk
  * ANN join serves from the persisted registry layout with file-level
  * pruning (q339), token-grain Hamilton apportionment with a
  * packed-prefix fill (q340), the v5 manifest gets its incremental
  * maintenance arm (q341), and StoreLog pointer swaps get a CAS commit
  * so racing maintenance writers serialize.
  */
class Round18Spec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  // ---- q336: passage-fingerprint store erasure ------------------------

  test("q336: zero erased fingerprints on disk, base vacuumed, " +
      "resurrection nonempty") {
    val s = spark
    import s.implicits._
    val erased = ops.Text.erasedPassageStore(spark, sf)
    val store = spark.read.parquet(s"$erased/store")
    // PHYSICAL forgetting: no winner row held by an erased doc
    // survives in the rewritten store files
    assert(store.where($"w_doc" % 11 === 5).count() == 0,
      "erased docs still hold fingerprints in the rewritten store")
    // resurrection really happened: some orphaned fingerprints were
    // re-elected to surviving docs (the inherit ledger is nonempty)
    val inherited = spark.read.parquet(s"$erased/inherit").count()
    assert(inherited > 0, "expected re-elected (inherited) fingerprints")
    // the superseded pre-erase base is vacuumed
    val base = ops.Text.passageBase.root(spark, sf)
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$base/store")),
      "pre-erasure passage store not vacuumed")
    // completeness: every distinct surviving passage hash is still
    // covered — winners exist exactly for hashes with ≥1 surviving
    // occurrence, so no hash may appear twice
    assert(store.groupBy($"ph").count().where($"count" > 1).count() == 0,
      "duplicate winners for one fingerprint")
  }

  test("q336: registered plan reads ONLY the rewritten store") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = RegistryPlans(sf, "q336_dedup_store_erasure").sparkPlan.collect {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.mkString(",")
    }
    assert(scans.nonEmpty, "expected file scans of the erased store")
    assert(scans.forall(p => p.contains("pdedup") &&
      p.contains(ops.Text.PassageErasedTag)),
      s"q336 scanned outside the rewritten store: $scans")
  }

  test("q336: replay reuses the erased store byte-for-byte") {
    val erased = ops.Text.erasedPassageStore(spark, sf)
    def snapshot(): Map[String, Long] = {
      val p = java.nio.file.Paths.get(erased, "store")
      scala.util.Using.resource(java.nio.file.Files.list(p)) { l =>
        import scala.jdk.CollectionConverters._
        l.iterator().asScala
          .map(f => f.getFileName.toString -> java.nio.file.Files.size(f))
          .toMap
      }
    }
    val before = snapshot()
    ops.Text.erasedPassageStore(spark, sf) // replay
    assert(snapshot() == before,
      "replaying the erase rebuilt or mutated the erased store")
  }

  // ---- q337: signature-store erasure -----------------------------------

  test("q337: erase ≡ from-scratch rebuild over corpus∖E, " +
      "zero erased signatures on disk") {
    val s = spark
    import s.implicits._
    val erased = ops.Dedup.erasedSigStore(spark, sf)
    val sigs = spark.read.parquet(s"$erased/sigs")
    assert(sigs.where($"doc" % 13 === 6).count() == 0,
      "erased docs' signatures still on disk")
    // the strongest external check a no-SQL-oracle op can carry: the
    // erased store must be BIT-IDENTICAL to rerunning the two-phase
    // pipeline over the corpus without E (decisions are deterministic
    // in (doc, sig), and store-loaded sigs ≡ re-sketched sigs)
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").where($"doc_id" % 13 =!= 6)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc LONG, sig ARRAY<LONG>"))
    val (_, s1) = ops.Dedup.incrementalNearDupCore(
      spark, docs.where($"doc_id" % 10 < 8), empty)
    val (_, s2) = ops.Dedup.incrementalNearDupCore(
      spark, docs.where($"doc_id" % 10 >= 8), s1)
    def canon(df: DataFrame): Seq[(Long, String)] = df
      .select($"doc", $"sig".cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq.sorted
    assert(canon(sigs) == canon(s2),
      "erased signature store diverges from the rebuild over corpus∖E")
    // ledger consistency: kept ⟺ signature present in the erased store
    val ledger = spark.read.parquet(s"$erased/ledger")
    val keptLedger = ledger.where($"kept")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    val keptStore = sigs.select($"doc").as[Long].collect().sorted.toSeq
    assert(keptLedger == keptStore,
      "ledger kept set diverges from the stored signatures")
    // the base is vacuumed
    val baseRoot = ops.Dedup.sigBase.root(spark, sf)
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$baseRoot/sigs")),
      "pre-erasure signature store not vacuumed")
  }

  test("q337: the cascade goes BOTH ways — resurrection and unshipping") {
    // synthetic signatures pin the collision structure exactly
    // (numHashes=32, 8 bands × 4 rows, minMatches=16):
    //   X = [0..31]                      erased doc, batch base, id 10
    //   A = [0..15, 100..115]            base, id 11 — 16 matches w/ X
    //                                    (bands 0-3 shared)
    //   B = [200..215, 100..115]         delta, id 12 — 16 matches w/ A
    //                                    (bands 4-7), ZERO w/ X
    val s = spark
    import s.implicits._
    val X = (0L until 32L).toArray
    val A = ((0L until 16L) ++ (100L until 116L)).toArray
    val B = ((200L until 216L) ++ (100L until 116L)).toArray
    def sigDf(rows: Seq[(Long, Array[Long])]): DataFrame =
      rows.toDF("doc", "sig")
    val empty = sigDf(Nil)
    def keptSet(led: DataFrame): Set[Long] =
      led.where($"kept").select($"doc_id").as[Long].collect().toSet
    // PRE-erase: X suppresses A in-batch; B sails past the {X} store
    val (led1, st1) = ops.Dedup.nearDupDecideCore(
      spark, sigDf(Seq(10L -> X, 11L -> A)), empty)
    val (led2, st2) = ops.Dedup.nearDupDecideCore(
      spark, sigDf(Seq(12L -> B)), st1)
    assert(keptSet(led1) == Set(10L) && keptSet(led2) == Set(12L))
    assert(st2.select($"doc").as[Long].collect().toSet == Set(10L, 12L))
    // POST-erase of {X}: A RESURRECTS (its only blocker is gone) and B
    // UNSHIPS (newly blocked by the resurrected A) — the two cascade
    // directions a naive delete-the-rows erase misses
    val (led1e, st1e) = ops.Dedup.nearDupDecideCore(
      spark, sigDf(Seq(11L -> A)), empty)
    val (led2e, st2e) = ops.Dedup.nearDupDecideCore(
      spark, sigDf(Seq(12L -> B)), st1e)
    assert(keptSet(led1e) == Set(11L), "A must resurrect")
    assert(keptSet(led2e) == Set.empty, "B must unship")
    assert(st2e.select($"doc").as[Long].collect().toSet == Set(11L))
  }

  test("q337: registered output labels the cascade statuses") {
    val s = spark
    import s.implicits._
    val out = SparkEntry.queries("q337_signature_erasure")(spark, sf)
    val statuses = out.groupBy($"status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statuses.getOrElse("kept", 0L) > 0L)
    // every surviving doc is accounted once; no erased doc appears
    assert(out.where($"doc_id" % 13 === 6).count() == 0)
    assert(out.groupBy($"doc_id").count().where($"count" > 1).count() == 0)
  }

  // ---- q338: composed erasure audit -------------------------------------

  test("q338: the audit CAN fail — planted un-erased store reads nonzero") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_audit18").toString
    // a store whose erase never ran: erased refs resident in the
    // payload, the superseded base payload still on disk, AND a stale
    // freshness-tagged sibling root never swept
    // the NULL doc_id row is the planted GRAIN violation: a row whose
    // erasure subject is unknown is an aggregate a row-drop erase
    // cannot reach (r19: the subject-grain audit column must fail too)
    // store names follow r21's two-tag format <prefix>_<dirTag>_<fresh>:
    // the audit (like the sweep) must flag a stale SAME-dir sibling and
    // a pre-migration single-tag root, and must NOT flag a sibling
    // keyed to another source dir (that is another SF's live store —
    // the pre-r21 any-sibling rule destroyed it on every alternating
    // run)
    val dt = ops.StoreGuard.dirTag(sf)
    val otherDir = "0" * 16
    assert(dt != otherDir)
    Seq(Some(1L), Some(2L), Some(7L), Some(14L), None).toDF("doc_id")
      .write.parquet(s"$tmp/x_${dt}_aaaa/erased_test/payload")
    Seq(9L).toDF("doc_id").write.parquet(s"$tmp/x_${dt}_aaaa/payload")
    Seq(7L).toDF("doc_id").write.parquet(s"$tmp/x_${dt}_bbbb/payload")
    Seq(7L).toDF("doc_id").write.parquet(s"$tmp/x_deadbeef00/payload")
    Seq(7L).toDF("doc_id")
      .write.parquet(s"$tmp/x_${otherDir}_cccc/payload")
    val erased = ops.StoreGuard.fixtureErase(tmp, "x", "documents.parquet",
      basePayload = Seq("payload"), tag = "erased_test")
    val reg = Seq(ops.Erasure.AuditedStore("x_store", erased, "payload",
      df => df("doc_id") % 7 === 0, Seq("doc_id")))
    // the audit reads the planted root; it must not run the erase
    val row = ops.Erasure.auditFrame(spark, sf, reg,
      _ => s"$tmp/x_${dt}_aaaa/erased_test").collect().head
    assert(row.getString(0) == "x_store")
    assert(row.getLong(1) == 2L,
      "audit must count the resident erased references (7, 14)")
    assert(row.getLong(2) == 1L,
      "audit must flag the resident superseded base payload")
    assert(row.getLong(3) == 2L,
      "audit must flag the unswept same-dir stale sibling and the " +
        "pre-migration single-tag root — and NOT the other-dir sibling")
    assert(row.getLong(4) == 1L,
      "audit must flag the null-subject row as a grain violation")
    graft.streaming.Streams.deleteStaged(java.nio.file.Paths.get(tmp))
  }

  test("q338: registry covers every eraseRewrite call site (completeness)") {
    // every declared erase store is audited, and every audited store
    // is a declared erase store: declaring erase verb N+1 without
    // registering its store in Erasure.registry fails here
    val declared = ops.StoreGuard.all.filter(_.erases.nonEmpty)
      .map(_.name).toSet
    val audited = ops.Erasure.registry.map(_.erased.name).toSet
    assert(declared.size >= 8, s"only ${declared.size} erase stores")
    assert(declared -- audited == Set.empty,
      s"declared erase stores with no audit row: ${declared -- audited}")
    assert(audited -- declared == Set.empty,
      s"audited stores that are not declared: ${audited -- declared}")
  }

  test("q338: the real cascade certificate is all-zero") {
    val out = SparkEntry.queries("q338_erasure_audit")(spark, sf)
      .collect()
    assert(out.length == ops.Erasure.registry.size)
    assert(out.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L &&
        r.getLong(3) == 0L && r.getLong(4) == 0L),
      s"erasure audit found residue: ${out.mkString(", ")}")
  }

  // ---- q339: bulk ANN join served from the registry store ---------------

  test("q339: pruned store serving ≡ unpruned, row for row") {
    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val served = ops.Graph.registryAnnJoin(spark, sf, pruned = true)
    val unpruned = ops.Graph.registryAnnJoin(spark, sf, pruned = false)
    assert(canon(served) == canon(unpruned),
      "partition pruning changed the served result")
  }

  test("q339: full probe ≡ exact filtered ranking over the store") {
    val s = spark
    import s.implicits._
    val full = ops.Graph.registryAnnJoin(spark, sf, nProbe = 4,
        pruned = true)
      .select($"qid", $"nbr", $"rnk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .toSeq.sorted
    // independent exact ranking: brute force over the persisted index
    // rows (driver-side at this SF), same attribute filter, same
    // integer key dp·|dp| DIV n2, same (key desc, nbr) tie rule
    val (indexPath, _) = ops.Graph.registryIvfStore(spark, sf, 2L, 4)
    val rows = spark.read.parquet(indexPath)
      .select($"vec_id", $"vmic", $"n2")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray, r.getLong(2)))
    val cands = rows.filter(_._1 % 2 == 0)
    val exact = rows.filter(_._1 % 17 == 0).flatMap {
      case (qid, qv, _) =>
        cands.filter(_._1 != qid).map { case (nbr, v, n2) =>
          val dp = BigInt(qv.zip(v).map { case (a, b) =>
            BigInt(a) * BigInt(b) }.sum.toString)
          (qid, nbr, dp * dp.abs / BigInt(n2))
        }.sortBy { case (_, nbr, key) => (-key, nbr) }
          .take(5).zipWithIndex
          .map { case ((q, nbr, _), i) => (q, nbr, i + 1) }
    }.toSeq.sorted
    assert(full == exact,
      "nProbe = nCells must degenerate to the exact filtered ranking")
  }

  test("q339: plan locks — pruned scan, WindowGroupLimit, no nested loop") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val plan = RegistryPlans(sf, "q339_ann_join_served").sparkPlan
    val prunedScans = plan.collect {
      case f: FileSourceScanExec if f.partitionFilters.nonEmpty => f
    }
    assert(prunedScans.nonEmpty,
      "q339's store scan must carry PartitionFilters (cell pruning)")
    assert(plan.collect { case w: WindowGroupLimitExec => w }.nonEmpty,
      "q339's top-k must plan as WindowGroupLimit")
    val txt = plan.toString
    assert(!txt.contains("CartesianProduct") &&
      !txt.contains("BroadcastNestedLoopJoin"),
      s"q339 planned a nested loop:\n$txt")
  }

  // ---- StoreLog CAS commit ----------------------------------------------

  test("pointer CAS: two racing writers serialize, loser retries") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_cas18")
    val log = new streaming.StoreLog(root, "p")
    def write(v: String)(d: java.nio.file.Path): Unit = {
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve("v"),
        v.getBytes("UTF-8"))
    }
    assert(log.commitNext(None)(write("a")) == Some(1L))
    // optimistic pre-check: a writer holding a stale expectation loses
    assert(log.commitNext(None)(write("stale")) == None)
    // rename-level race: writer B stages against expected=1, but A
    // lands version 2 while B is still writing — B's rename must fail
    // and leave A's commit untouched (the deterministic TOCTOU
    // interleave: A's full commit runs INSIDE B's write closure)
    var aWon: Option[Long] = None
    val bWon = log.commitNext(Some(1L)) { d =>
      write("b")(d)
      aWon = log.commitNext(Some(1L))(write("a2"))
    }
    assert(aWon == Some(2L) && bWon == None,
      s"exactly one racer must land version 2 (a=$aWon, b=$bWon)")
    assert(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(log.path(2L), "v")), "UTF-8") == "a2",
      "the loser's staged content must never shadow the winner's")
    // the loser re-reads and retries against the NEW head
    assert(log.commitNext(Some(2L))(write("b2")) == Some(3L))
    assert(log.versions() == Seq(1L, 2L, 3L))
    // no stray staging dirs survive the lost race
    val stray = scala.util.Using.resource(
      java.nio.file.Files.list(root)) { l =>
      import scala.jdk.CollectionConverters._
      l.iterator().asScala.count(_.getFileName.toString.startsWith("tmp_"))
    }
    assert(stray == 0, "lost CAS attempt left staging dirs behind")
    graft.streaming.Streams.deleteStaged(root)
  }

  // ---- q342: serving-index erasure ----------------------------------------

  test("q342: erase ≡ rebuild-without under the frozen quantizer; " +
      "untouched cells byte-identical; zero erased vectors on disk") {
    val s = spark
    import s.implicits._
    // force a FRESH transaction so the byte-copy gate compares within
    // one build (parquet bytes across separate builds are not pinned)
    val baseRoot = ops.Graph.servingIvf.root(spark, sf)
    graft.streaming.Streams.deleteStaged(
      java.nio.file.Paths.get(s"$baseRoot/${ops.Graph.ServingErasedTag}"))
    val (builtIdx, _) = ops.Graph.servingIvfStore(spark, sf)
    def crcDir(dir: String): Map[String, Long] = {
      val p = java.nio.file.Paths.get(dir)
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { w =>
        import scala.jdk.CollectionConverters._
        w.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map { f =>
            val crc = new java.util.zip.CRC32()
            crc.update(java.nio.file.Files.readAllBytes(f))
            p.relativize(f).toString -> crc.getValue
          }.toMap
      }
    }
    val base = spark.read.parquet(builtIdx)
    val affected = base.where($"vec_id" % 53 === 7)
      .select($"cell").distinct().as[Int].collect().toSet
    assert(affected.nonEmpty, "fixture: some cell must hold erased vectors")
    val untouched = base.select($"cell").distinct().as[Int].collect()
      .toSet -- affected
    assert(untouched.nonEmpty,
      "fixture: some cell must be untouched (else the partition-grain " +
        "claim is vacuous)")
    val beforeCrc = untouched.map(c =>
      c -> crcDir(s"$builtIdx/cell=$c")).toMap
    // survivors snapshot BEFORE the erase vacuums the base
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = df
      .select($"cell", $"vec_id", $"vmic".cast("string"), $"n2")
      .collect().map(_.toString).toSeq.sorted
    val expected = canon(base.where($"vec_id" % 53 =!= 7))
    val (erased, _) = ops.Graph.erasedServingStore(spark, sf)
    val after = spark.read.parquet(s"$erased/index")
    // rebuild-without identity: same rows, same (frozen-centroid)
    // cell assignments — nothing but the erased vectors changed
    assert(canon(after) == expected,
      "erased serving index diverges from filter-under-frozen-quantizer")
    assert(after.where($"vec_id" % 53 === 7).count() == 0,
      "erased vectors still in the serving index files")
    // the partition-grain claim: untouched cells are byte-identical
    for (c <- untouched)
      assert(crcDir(s"$erased/index/cell=$c") == beforeCrc(c),
        s"untouched cell $c was rewritten, not byte-copied")
    // base vacuumed
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$baseRoot/index")),
      "pre-erasure serving index not vacuumed")
    // the probe path can never return an erased node
    val out = SparkEntry.queries("q342_serving_erasure")(spark, sf)
    assert(out.where($"probe_node" % 53 === 7).count() == 0)
  }

  // ---- q340: token-grain apportionment -----------------------------------

  test("q340: quotas sum to the budget exactly; the fill is maximal") {
    val s = spark
    import s.implicits._
    val out = SparkEntry.queries("q340_token_apportion")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))
    // (lang, n_tokens, quota, n_docs, tokens_shipped, slack)
    assert(out.map(_._3).sum == 10000L,
      "Hamilton quotas must sum to the budget EXACTLY")
    assert(out.forall { case (_, _, q, _, t, sl) => t + sl == q },
      "tokens_shipped + slack must reconstruct the quota")
    // maximality: replay each language's md5-ranked packed prefix on
    // the driver — the greedy prefix must match n_docs/tokens_shipped,
    // and the next doc (when one exists) must overflow the quota
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(x: String): String = md.synchronized {
      md.reset()
      md.digest(x.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"lang", $"doc_id",
        size(split($"text", " ")).cast("long").as("ntok"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for ((lang, _, quota, nDocs, shipped, _) <- out) {
      val ordered = docs.filter(_._1 == lang)
        .map { case (_, id, n) => (md5hex(s"t:$id"), id, n) }
        .sortBy { case (h, id, _) => (h, id) }
      var cum = 0L
      var k = 0
      while (k < ordered.length && cum + ordered(k)._3 <= quota) {
        cum += ordered(k)._3; k += 1
      }
      assert(k.toLong == nDocs && cum == shipped,
        s"$lang: greedy packed prefix diverges (k=$k cum=$cum)")
      if (k < ordered.length)
        assert(cum + ordered(k)._3 > quota,
          s"$lang: fill is not maximal — next doc still fits")
    }
  }

  // ---- q341: incremental manifest v5 -------------------------------------

  test("q341 ≡ q335: the incremental v5 merge reproduces the full " +
      "composition's ledger") {
    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    val full = canon(SparkEntry.queries("q335_manifest_v5")(spark, sf))
    val inc = canon(
      SparkEntry.queries("q341_manifest_v5_incremental")(spark, sf))
    assert(inc == full,
      "incremental v5 ledger diverges from the full composition")
  }
}
