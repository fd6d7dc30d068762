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
  * [[local]] also sizes Spark's generated-class cache
  * ([[CodegenCacheEntries]]). That is a static conf, not policy: Spark reads
  * it once per JVM, when `CodeGenerator` is first used, so it must be set
  * when the first session in the JVM is built and [[tune]] cannot set it.
  * A JVM whose first session is built elsewhere, such as
  * `tools.PersistenceMain`'s Hive builder, keeps Spark's default of 100. On
  * a cluster it is a spark-submit conf, and it sizes the driver's cache and
  * each executor's.
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
    val spark = SparkSession.builder()
      .master(s"local[$threads,2]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }
}
