package graft

import org.apache.spark.sql.SparkSession

/** Session construction + runtime tuning for the graft engine.
  *
  * Design target is a large multi-executor cluster (the local[N] master is
  * only the test harness): AQE drives runtime re-planning (skew joins,
  * partition coalescing, broadcast demotion/promotion), shuffle partitions
  * default to the local core count rather than Spark's 200, and the session
  * timezone is pinned UTC so zoneless (`TIMESTAMP_NTZ`) semantics — the
  * equivalent of BigQuery's DATETIME used throughout the reference
  * (/root/reference/models/datamart/schema.yml:10) — are stable across
  * engines.
  *
  * Session policy is [[tune]], applied at two seams: [[local]], the session
  * builder for every main except the Hive-catalog `tools.PersistenceMain`,
  * applies it once; [[SparkEntry]] applies it again before each query build
  * and before `entry`, so a session built elsewhere gets the same policy.
  * Query builds never set it themselves. `SPARK_GRAFT_CPUS` is read only by
  * [[cpus]], which sizes every main's session.
  *
  * [[staticConfs]] holds the settings Spark reads only when a session or
  * the first generated class is built, so [[tune]] cannot set them. [[local]]
  * applies them, and so does `tools.PersistenceMain`, which keeps its own
  * builder only because it needs a Hive catalog over its own metastore and
  * warehouse. On a cluster they are spark-submit confs. There are three:
  *
  * Spark's generated-class cache size ([[CodegenCacheEntries]]). Spark reads
  * it once per JVM, when `CodeGenerator` is first used, so it must be set
  * when the first session in the JVM is built. On a cluster it sizes the
  * driver's cache and each executor's.
  *
  * Session artifact isolation off (`spark.sql.artifact.isolation.enabled`),
  * so every session in the JVM shares the executor's generated classes. The
  * codegen cache is keyed by (context class loader, source). With isolation
  * on, Spark's `ArtifactManager` tags each execution's tasks with its
  * session's UUID, and the executor gives each UUID its own class loader. A
  * streaming query runs on a clone of its session with a fresh UUID on every
  * start, as does any `newSession()`, so each stream run recompiled
  * byte-identical task-side classes: 20, 14 and 6 classes per warm run of
  * the window counts, CDC and dedup gates, and 0 with isolation off.
  * Isolation only separates artifacts a session adds (`addArtifact`,
  * `addJar`), and the engine adds none.
  *
  * The local filesystem ([[graft.io.LocalFs]]) for `file:` paths, through
  * both Hadoop's `FileSystem` and its `FileContext`. Without Hadoop's native
  * library the stock one forks `chmod` for every file it creates and
  * `readlink` for every `FileContext` rename, ~7–8 ms each; the engine's
  * does both in the JVM. A warm run of the window counts, CDC and dedup gates
  * forked about 670, 300 and 285 commands, and forks none with it. Hadoop's
  * `FileSystem` cache is keyed by scheme and user, not by conf, so a JVM
  * whose first `file:` lookup used another conf keeps that filesystem for
  * `FileSystem` callers; `FileContext`, which the checkpoint manager uses,
  * has no such cache.
  */
object GraftSession {

  /** Local thread count for the mains: `SPARK_GRAFT_CPUS`, or 4 when unset. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`). At Spark's default of 100 the
    * engine's own traffic evicts each query's classes before the query runs
    * again, and every warm run recompiles them with Janino. One Verify over
    * all 209 queries at sf0.01 compiles 4,110 distinct classes in a fresh
    * JVM with an unbounded cache; this is that working set plus 20% headroom
    * (4,932), rounded up. The cache holds only classes a run generated, so a
    * run whose classes fit in 100 entries holds no more than at the default.
    */
  val CodegenCacheEntries: Int = 5000

  /** Runtime confs every entry point applies, including when the caller hands
    * us a session we did not build (the driver's Verify/Bench harness does
    * exactly that). All of these are runtime-settable SQLConfs.
    */
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    // The driver-generated testdata stores timestamps as INT64
    // TIMESTAMP(NANOS,false), which Spark refuses to read natively;
    // read them as raw nanos and convert in Tables.load.
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    c.set("spark.sql.session.timeZone", "UTC")
    c.set("spark.sql.adaptive.enabled", "true")
    // Map-side partial aggregation + skew handling at scale:
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // Join strategy (guide §3.1): let the planner pick shuffled-hash over
    // sort-merge when its size conditions hold (skips both sort passes),
    // and let AQE rewrite a planned SMJ to SHJ at runtime when every
    // post-shuffle partition's build side is under 64 MB — a bound that
    // holds on any cluster whose executors give tasks the usual few
    // hundred MB of execution memory, so this is a scale setting, not a
    // local[32] tune. Sort-merge remains the fallback wherever the bound
    // is not provable; spill safety is unchanged for those.
    c.set("spark.sql.join.preferSortMergeJoin", "false")
    c.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB")
    spark
  }

  /** Scoped runtime-conf override: set `pairs`, run `body`, restore every
    * key to its prior value, or unset it if it was unset. The one
    * implementation of the save/set/try/finally dance the query gates need —
    * each hand-rolled copy was a fresh opportunity for the classic
    * capture-after-set or wrong-restore-order bug. Prior values come from
    * `getAll`, which holds only keys actually set: `getOption` also returns
    * defaults, and restoring one would pin the key to it.
    */
  def withConfs[A](spark: SparkSession, pairs: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll
    val prev = pairs.map { case (k, _) => k -> set.get(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Local session for the mains, the specs and the benchmark, with [[tune]]
    * applied. `local[N,2]`: allow ONE task retry, the production scheduler
    * contract (clusters run spark.task.maxFailures=4; bare `local[N]` pins it
    * to 1, which is the unrealistic setting) — q_write_retry plants a
    * first-attempt task failure and grades exactly-once output through the
    * retry.
    */
  def local(threads: Int, appName: String = "graft"): SparkSession = {
    val spark = staticConfs(SparkSession.builder())
      .master(s"local[$threads,2]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }

  /** `builder` with the engine's static confs (see the object's doc): the
    * codegen cache size, artifact isolation off and the local filesystem.
    */
  def staticConfs(builder: SparkSession.Builder): SparkSession.Builder =
    (Seq("spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
      "spark.sql.artifact.isolation.enabled" -> "false") ++ graft.io.LocalFs.confs)
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
}
