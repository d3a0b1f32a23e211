package graft

import org.apache.spark.sql.SparkSession

/** Scale-adaptive session tuning shared by the harness entrypoints
  * (Bench, Verify, Profile, Explain) so the bench, the oracle dump and
  * the profiler plan identically.
  *
  * Four non-default settings, all measured.
  *
  * 1. AQE coalescing (r21, guide §2.2/§2.4, see OPTIMIZATION_r21.md):
  *
  *   - `coalescePartitions.parallelismFirst = false`: with the default
  *     `true`, AQE sizes post-shuffle coalescing to
  *     totalBytes/defaultParallelism (floored at 1 MB) "to maximize
  *     parallelism" — which at this suite's shuffle masses keeps every
  *     exchange split across MB-ish slivers whose per-task overhead
  *     dominates their compute. `false` makes AQE respect the advisory
  *     target instead — the setting Spark's own SQL-performance docs
  *     recommend. Partition counts then DERIVE from measured shuffle
  *     bytes at runtime: a 100 TB exchange still fans out to thousands
  *     of reducers, a 40 KB ledger commit collapses to one task. The
  *     r20 scaling block proved the tax: the 8-core full suite BEAT the
  *     32-core one by 72 s because 16/18 sampled queries were
  *     coordination-bound, not compute-bound, at bench SFs.
  *
  *   - advisory partition size: env-parameterised
  *     (`SPARK_GRAFT_AQE_ADVISORY`), local default 2m. The LOCAL value
  *     is sized so the bench's heaviest genuinely-parallel reduce
  *     (gen_detect_10m, 81 MB shuffled) keeps ≥ `defaultParallelism`
  *     reduce partitions (81 MB / 2 MB = 40 ≥ 32) — measured: the 64m
  *     default collapsed it to 2 tasks and DOUBLED its wall time,
  *     while 2m matches its parallelism-first number (3.3 s) and keeps
  *     the full coordination win everywhere else. A production
  *     deployment sizes this to the 64–256 MB range the guide
  *     recommends (partitions in the 100 MB–1 GB band at TB shuffle
  *     masses); the env knob is that dial.
  *
  * 2. `spark.sql.artifact.isolation.enabled = false`, fixed: no env var.
  *    Every streaming query runs in a clone of its session, and each
  *    clone has a new `sessionUUID`. With isolation on (the default),
  *    the clone's `ArtifactManager.state` is a
  *    `JobArtifactState(sessionUUID, replClassURI)`, so its tasks run
  *    under a per-UUID classloader. `CodeGenerator`'s cache is keyed by
  *    `(contextClassLoader, code)`, so every stream start missed it and
  *    compiled its whole-stage and projection classes again, then ran
  *    them before the JIT had warmed them. Off, `state` is null and
  *    tasks use the default classloader. graft adds no jars or
  *    artifacts to a session, so isolation bought nothing. Measured on
  *    gen_stream's streamed replay (4 vCPUs, warm reps): 14 → 0
  *    compiles per run, stage-1 task CPU 800–880 → 133–174 ms, the
  *    whole replay 1.29–1.45 → 0.76–0.81 s, same digest; the
  *    benchmark's gen_stream `wall_s` fell from a median 2.61 to 1.78 s
  *    over 10 alternating pairs. `StreamingSpec` pins the zero-compile
  *    second run.
  *
  * 3. A fork-free `file://` filesystem, fixed: no env var.
  *    `spark.hadoop.fs.file.impl` (what `FileSystem.get` builds) and
  *    `spark.hadoop.fs.AbstractFileSystem.file.impl` (what `FileContext`
  *    builds, and so every streaming checkpoint, offset, commit and
  *    state-store file) name the classes in `ForkFreeLocalFs.scala`.
  *    Without a native `libhadoop` (Spark's distribution ships none),
  *    Hadoop 3.4's `RawLocalFileSystem` starts a `chmod` child for
  *    every permission it sets (every created file and directory) and
  *    a `readlink` child for every link check (both ends of every
  *    `FileContext` rename), at 4–7 ms a fork against ~0.01 ms for the
  *    NIO call that replaces it. The `readlink` is pure waste: it is
  *    handed the qualified `file:/…` string as a relative path and
  *    always answers "". On disk nothing changes: the same `.crc`
  *    twins, the same permission bits, the same rename-based commits.
  *    Measured on the benchmark's
  *    stream_mix (4 vCPUs, one JVM, 6 passes of its 3 queries): 2,055
  *    → 43 process starts (1,248 `readlink` and 765 `chmod` gone; what
  *    is left is Spark's own `rm -rf`); per traced pass
  *    `stream.wal_commit_ms` 97.5 → 6.5, `stream.state_commit_ms`
  *    154.5 → 36, `stream.batch_p50_ms` 506.5 → 285; `wall_s` a median
  *    2.77 → 1.95 s over 10 alternating pairs, every pair faster.
  *    `ForkFreeLocalFsSpec` pins the equivalence with the stock class;
  *    `ForkGateSpec` gates the forks.
  *
  * 4. `spark.plugins = graft.HadoopConfTrim`, fixed: no env var. Spark
  *    ships the context's Hadoop `Configuration` to tasks inside a
  *    `SerializableConfiguration` for every file-scan broadcast, write
  *    job, state-store RDD and schema-inference job. Hadoop 3.4's
  *    `Configuration.write` writes each key's source list
  *    ("yarn-default.xml", "core-default.xml", …) through its own
  *    `GZIPOutputStream`, so one zlib deflater per key, and
  *    `readFields` mirrors it with one inflater per key. Every default
  *    key is tracked (yarn-default 519, core-default 359,
  *    mapred-default 195). The driver plugin first initializes the
  *    classes that add default resources lazily (a new resource name
  *    reloads every conf and tracks all sources again), then clears the
  *    base conf's source map. Values are untouched; sources only feed
  *    `getPropertySources`, which is diagnostics, and the copies
  *    `newHadoopConf()` makes track only the keys set after the clear.
  *    Measured (4 vCPUs): one `SerializableConfiguration` round trip of
  *    the default conf 108,625 → 65,102 bytes, write 5.9 → 0.4 ms, read
  *    6.1 → 0.6 ms; after q73 (HDFS state), q112 (RocksDB), a parquet
  *    write and a parquet read the base conf tracks 1 of its 1,077 keys
  *    and the session's task conf serializes to 69,280 bytes;
  *    stream_mix `wall_s` a median 1.40 → 0.96 s over 10 alternating
  *    pairs, every pair faster. `HadoopConfTrimSpec` gates the count,
  *    the size and the values.
  *
  * The initial `spark.sql.shuffle.partitions` stays `$SPARK_GRAFT_CPUS`
  * per the bench contract — the AQE settings only govern how AQE
  * re-partitions at runtime from OBSERVED sizes, which is exactly the
  * "scale-adaptive rather than a constant" requirement.
  */
object SessionTuning {
  val artifactIsolation: (String, String) =
    "spark.sql.artifact.isolation.enabled" -> "false"

  /** Setting 3: the fork-free `file://` filesystem, for `FileSystem`
    * and for `FileContext`. */
  val localFileSystem: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName,
  )

  /** Setting 4: the driver plugin that trims the Hadoop conf's
    * per-key source tracking. A context-start setting: it cannot be
    * set on a running session. */
  val hadoopConfTrim: (String, String) =
    "spark.plugins" -> classOf[HadoopConfTrim].getName

  def configs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" ->
      sys.env.getOrElse("SPARK_GRAFT_AQE_PARFIRST", "false"),
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
      sys.env.getOrElse("SPARK_GRAFT_AQE_ADVISORY", "2m"),
    artifactIsolation,
  ) ++ localFileSystem :+ hadoopConfTrim

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    configs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The one harness session: `local[$SPARK_GRAFT_CPUS]` (default 32,
    * the bench contract) with as many shuffle partitions, the four
    * settings above, the UI off, and the session time zone pinned to
    * UTC — the NTZ `ts` layout is read in the session zone, so a non-UTC
    * host would shift every hour bucket and session bound off the
    * verified results.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    apply(SparkSession.builder().master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
