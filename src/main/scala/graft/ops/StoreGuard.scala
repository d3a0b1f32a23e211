package graft.ops

import org.apache.spark.sql.SparkSession

/** One lifecycle for every build-if-absent store. The builders are pure
  * functions of a source table, so a present store stands in for a
  * rebuild exactly when its root is keyed on that source. Each store is
  * DECLARED once, as a `val` of the query module that owns it
  * ([[declare]], [[declareErase]]), and the declaration holds
  * everything the lifecycle needs:
  *
  *   - its [[Key]]: base dir, prefix, source file, the `extra` key part
  *     (build parameters, recipe tags) and any secondary sources whose
  *     freshness folds into the key;
  *   - `sweep`: whether `ensure` deletes superseded siblings first;
  *   - `payload`: the subdirs the builder writes (what an erase vacuums
  *     and what the crash gate deletes and re-reads);
  *   - its builder.
  *
  * [[Store.ensure]] computes the root, sweeps if the store sweeps,
  * builds it if its completion marker is absent, and returns the root.
  * The marker is written by this guard AFTER the whole builder returns:
  * a sub-write's own `_SUCCESS` would pass forever on a store whose
  * build crashed between sub-writes (Round13Spec drives that window for
  * every declared store). Per call a found store costs one freshness
  * read of its source (two for a two-source key), one marker `exists`,
  * and one listing of its base if it sweeps.
  *
  * Sweeping is a per-store policy, not a default. A superseded sibling
  * of an erasure-family store is a retained copy of rows a later erase
  * removed, so those stores must sweep. Most stores are cheaper to leave
  * alone (a stale root is dead weight, not a leak), and the two `regivf`
  * registry-version stores must NOT sweep: they share one prefix, one
  * live root per version, and rollback to v1 is a store lookup.
  *
  * The guard's primitives (the key recipe, `ensureBuilt`,
  * `sweepStaleSiblings`, `eraseRewrite`) are private, so no store can be
  * built outside a declaration. [[all]] lists the declarations: each one
  * registers itself when its module initializes, and `all` initializes
  * every query module through [[graft.SparkEntry]] first, so a store
  * declared in a query module cannot be missing from it. Bench warms
  * `all` in order; there is no dependency graph, since a builder that
  * reads another store calls that store's `ensure`.
  */
private[graft] object StoreGuard {

  /** Key of a store root: `<base>/<prefix>_<dirTag>_<freshTag>`. The
    * name carries TWO tags, the source dir's and then the freshness
    * tag (the dir, the freshness of `source` and of each of
    * `alsoSources`, and `extra`), so a sweep can tell a superseded
    * sibling of THIS source from the live store of another source dir
    * (another SF).
    */
  final class Key private[StoreGuard] (val base: String,
      val prefix: String, val source: String, val extra: String,
      val alsoSources: Seq[String]) {
    def root(s: SparkSession, d: String): String = {
      val fresh = (source +: alsoSources).map(sourceFreshness(s, d, _))
      val tail = (fresh.tail ++ Option(extra).filter(_.nonEmpty))
        .map(":" + _).mkString
      s"$base/${prefix}_${dirTag(d)}_" +
        Scale.bucketTag(s"$d:${fresh.head}" + tail)
    }
  }

  private def key(base: String, prefix: String, source: String,
      extra: String = "", alsoSources: Seq[String] = Nil): Key =
    new Key(base, prefix, source, extra, alsoSources)

  /** A declared store. An erase store (`erases` = its base) lives at
    * `<base root>/<tag>` under the base's key, always sweeps, and is
    * built by the [[eraseRewrite]] transaction; `build` gets its
    * output root.
    */
  final class Store private[StoreGuard] (val key: Key, val sweep: Boolean,
      val payload: Seq[String], val erases: Option[(Store, String)],
      build: (SparkSession, String, String) => Unit) {

    val name: String = erases match {
      case Some((b, tag)) => s"${b.name}/$tag"
      case None => key.prefix + (if (key.extra.isEmpty) "" else s":${key.extra}")
    }

    def root(s: SparkSession, d: String): String =
      erases.fold(key.root(s, d)) { case (b, tag) => s"${b.root(s, d)}/$tag" }

    def ensure(s: SparkSession, d: String): String = {
      val keyRoot = key.root(s, d)
      if (sweep) sweepStaleSiblings(s, key.base, key.prefix, d,
        keyRoot.substring(keyRoot.lastIndexOf('/') + 1))
      erases match {
        case None =>
          ensureBuilt(s, keyRoot, name)(build(s, d, keyRoot))
          keyRoot
        case Some((b, tag)) =>
          eraseRewrite(s, keyRoot, tag, b.payload, name)(b.ensure(s, d))(
            build(s, d, _))
      }
    }
  }

  private val declared = scala.collection.mutable.ArrayBuffer.empty[Store]

  private def register(st: Store): Store = declared.synchronized {
    require(!declared.exists(_.name == st.name),
      s"store ${st.name} is declared twice")
    declared += st
    st
  }

  /** Declare a store built by `build(s, d, root)`. */
  def declare(base: String, prefix: String, source: String,
      extra: String = "", alsoSources: Seq[String] = Nil,
      sweep: Boolean = false, payload: Seq[String])(
      build: (SparkSession, String, String) => Unit): Store =
    register(new Store(key(base, prefix, source, extra, alsoSources),
      sweep, payload, None, build))

  /** Declare the erase store of `of` under `tag` (the tag names the
    * survivor predicate, so a predicate change can never serve the old
    * erase). `rewrite(s, d, baseRoot, out)` writes the survivors from
    * the base root into `out`; the transaction then vacuums the base's
    * payload. Every call sweeps the base's stale siblings: an orphaned
    * pre-erase root would RETAIN the erased rows on disk.
    */
  def declareErase(of: Store, tag: String, payload: Seq[String])(
      rewrite: (SparkSession, String, String, String) => Unit): Store =
    register(new Store(of.key, sweep = true, payload, Some((of, tag)),
      (s, d, out) => rewrite(s, d, out.substring(0, out.lastIndexOf('/')), out)))

  /** A parameterized store family: one declaration per parameter value
    * a registered query uses, looked up by value. An undeclared value
    * fails loudly instead of building an unkeyed store.
    */
  def family[P](what: String, params: Seq[P])(decl: P => Store): P => Store = {
    val members = params.map(p => p -> decl(p)).toMap
    p => members.getOrElse(p, throw new IllegalArgumentException(
      s"no $what store is declared for $p"))
  }

  /** An erase store over a base that are both NOT registered: never in
    * [[all]], never warmed, and neither can build. Only for fixtures
    * that need a declaration's keys without a real store behind them
    * (the q338 audit's negative fixture).
    */
  def fixtureErase(base: String, prefix: String, source: String,
      basePayload: Seq[String], tag: String): Store = {
    val k = key(base, prefix, source)
    val none: (SparkSession, String, String) => Unit =
      (_, _, _) => throw new IllegalStateException("fixture store")
    new Store(k, sweep = false, Nil,
      Some((new Store(k, sweep = false, basePayload, None, none), tag)), none)
  }

  private val built = scala.collection.mutable.ArrayBuffer.empty[String]

  /** The name of every store whose `ensure` ran its builder in this
    * JVM, once per build, in build order. */
  def builds: Seq[String] = built.synchronized(built.toList)

  /** Every declared store, in declaration order. */
  def all: Seq[Store] = {
    graft.SparkEntry.queries
    declared.synchronized(declared.toList)
  }

  /** Stable tag of a source DIRECTORY alone (no freshness component) —
    * the sweep scope for per-source store families.
    */
  private[graft] def dirTag(dir: String): String =
    Scale.bucketTag(s"dir:$dir")

  /** CRC32 over the first and last `block` bytes of `p` (whole file
    * when shorter) — the cheap content component of the store key:
    * mtime+length alone would serve a stale store after a same-length
    * rewrite inside filesystem mtime granularity, and the parquet
    * footer + header cover both the schema and the row-group index.
    */
  private def edgeFingerprint(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path,
      len: Long,
      block: Int = 4096): Long = {
    val crc = new java.util.zip.CRC32()
    val in = fs.open(p)
    try {
      val head = new Array[Byte](math.min(block.toLong, len).toInt)
      in.readFully(0L, head)
      crc.update(head)
      if (len > block) {
        val tail = new Array[Byte](block)
        in.readFully(len - block, tail)
        crc.update(tail)
      }
    } finally in.close()
    crc.getValue
  }

  /** Freshness key of ONE source file: mtime, length and the edge
    * fingerprint — the one recipe for primary and secondary sources.
    */
  private def sourceFreshness(
      s: SparkSession, dir: String, sourceName: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$sourceName")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    s"${st.getModificationTime}:${st.getLen}:" +
      s"${edgeFingerprint(fs, p, st.getLen)}"
  }

  private def ensureBuilt(s: SparkSession, root: String, name: String)(
      build: => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(root, "_GRAFT_STORE_COMPLETE")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      build
      fs.create(p, true).close()
      built.synchronized(built += name)
    }
  }

  /** Vacuum a SUPERSEDED store: delete the completion marker FIRST,
    * then the payload dirs. A crash after the payload delete but before
    * the marker delete would leave a marker over missing data that
    * every later `ensure` trusts; a crash after the marker delete
    * merely costs one rebuild. Idempotent.
    */
  private def vacuumStore(s: SparkSession, root: String,
      payload: Seq[String]): Unit = {
    val m = new org.apache.hadoop.fs.Path(root, "_GRAFT_STORE_COMPLETE")
    val fs = m.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(m)) fs.delete(m, false)
    payload.foreach { sub =>
      val p = new org.apache.hadoop.fs.Path(root, sub)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** SUPERSEDED sibling roots of `prefix` for source `dir` under
    * `base`: every `<prefix>_<dirTag(dir)>_<freshTag>` dir other than
    * `live` (the fresh tag is a pure function of the current source, so
    * any other one under the same dir is stale), plus pre-r21
    * single-tag roots (`<prefix>_<hex>`). Siblings keyed to OTHER
    * source dirs are other SFs' live stores and are never listed. The
    * sweep deletes these; the q338 audit counts them.
    */
  private[graft] def staleSiblings(s: SparkSession, base: String,
      prefix: String, dir: String,
      live: String): Seq[org.apache.hadoop.fs.Path] = {
    val b = new org.apache.hadoop.fs.Path(base)
    val fs = b.getFileSystem(s.sparkContext.hadoopConfiguration)
    val scoped = s"${prefix}_${dirTag(dir)}_"
    val oldFormat = s"^${java.util.regex.Pattern.quote(prefix)}_[0-9a-f]+$$".r
    if (!fs.exists(b)) Nil
    else fs.listStatus(b).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isDirectory && ((n.startsWith(scoped) && n != live) ||
        oldFormat.findFirstIn(n).nonEmpty)
    }.map(_.getPath)
  }

  private def sweepStaleSiblings(s: SparkSession, base: String,
      prefix: String, dir: String, live: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    staleSiblings(s, base, prefix, dir, live).foreach(fs.delete(_, true))
  }

  /** PHYSICAL-ERASURE transaction: the erased store lives at
    * `<baseRoot>/<erasedTag>`; building it (1) ensures the base,
    * (2) runs the rewrite, (3) vacuums the base INSIDE the build, so a
    * completed erased marker certifies the base is gone. A crash at any
    * point self-heals: before the vacuum the base still exists to
    * rebuild from; after it, the next call re-ensures the base from
    * source. The trailing vacuum runs on EVERY call, so an out-of-band
    * base rebuild cannot resurrect erased rows past the next erase
    * read. Returns the erased root.
    */
  private def eraseRewrite(
      s: SparkSession, baseRoot: String, erasedTag: String,
      payloads: Seq[String], name: String)(ensureBase: => Any)(
      rewrite: String => Unit): String = {
    val erased = s"$baseRoot/$erasedTag"
    ensureBuilt(s, erased, name) {
      ensureBase
      rewrite(erased)
      vacuumStore(s, baseRoot, payloads)
    }
    vacuumStore(s, baseRoot, payloads)
    erased
  }
}
