package graft

import org.apache.spark.sql.SparkSession

/** Scale-adaptive session tuning shared by the harness entrypoints
  * (Bench, Verify, Profile, Explain) so the bench, the oracle dump and
  * the profiler plan identically.
  *
  * Two non-default settings, both measured.
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
  * The initial `spark.sql.shuffle.partitions` stays `$SPARK_GRAFT_CPUS`
  * per the bench contract — the AQE settings only govern how AQE
  * re-partitions at runtime from OBSERVED sizes, which is exactly the
  * "scale-adaptive rather than a constant" requirement.
  */
object SessionTuning {
  val artifactIsolation: (String, String) =
    "spark.sql.artifact.isolation.enabled" -> "false"

  def configs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" ->
      sys.env.getOrElse("SPARK_GRAFT_AQE_PARFIRST", "false"),
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
      sys.env.getOrElse("SPARK_GRAFT_AQE_ADVISORY", "2m"),
    artifactIsolation,
  )

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    configs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The one harness session: `local[$SPARK_GRAFT_CPUS]` (default 32,
    * the bench contract) with as many shuffle partitions, the two
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
