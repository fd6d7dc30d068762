package graft

import graft.queries.StreamingQueries.StreamGate
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.col

class GraftSessionSpec extends SparkTestBase {

  private val unsetKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val otherUnsetKey = "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
  private val setKey = "spark.sql.shuffle.partitions"

  test("withConfs leaves an unset key unset") {
    val before = spark.conf.getAll
    assert(!before.contains(unsetKey))
    val seen = GraftSession.withConfs(spark, unsetKey -> "1MB")(spark.conf.get(unsetKey))
    assert(seen == "1MB")
    assert(spark.conf.getAll == before)
  }

  test("withConfs restores a set key to its value") {
    val before = spark.conf.getAll
    assert(before.contains(setKey))
    val seen = GraftSession.withConfs(spark, setKey -> "3")(spark.conf.get(setKey))
    assert(seen == "3")
    assert(spark.conf.getAll == before)
  }

  test("withConfs restores exactly when the body throws") {
    val before = spark.conf.getAll
    assert(!before.contains(otherUnsetKey) && before.contains(setKey))
    intercept[IllegalStateException] {
      GraftSession.withConfs(spark, otherUnsetKey -> "7", setKey -> "3") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.getAll == before)
  }

  /** Every key [[GraftSession.tune]] sets, with the value it sets. */
  private def policy: Map[String, String] = GraftSession.tune(spark.newSession()).conf.getAll

  private def assertTuned(s: org.apache.spark.sql.SparkSession): Unit =
    policy.foreach { case (k, v) => assert(s.conf.get(k) == v, k) }

  test("SparkEntry applies the session policy to a session it did not build") {
    val built = spark.newSession()
    assert(policy.exists { case (k, v) => built.conf.get(k) != v })
    SparkEntry.queries("q3_shipping_priority")(built, sf)
    assertTuned(built)

    val driven = spark.newSession()
    SparkEntry.entry(driven)
    assertTuned(driven)
  }

  test("a local session carries the codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a generated class stays cached past Spark's default 100 entries") {
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME
    // each distinct literal is inlined into its own generated class
    def run(i: Int): Unit = spark.range(1).selectExpr(s"id + $i").collect(): Unit
    (1 to 150).foreach(run)
    val before = compiled.getCount
    run(1)
    assert(compiled.getCount - before == 0, "re-running the first query recompiled its class")
  }

  test("a local session turns artifact isolation off") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  /** One stateful stream lifecycle on a fresh gate, over `batches`
    * micro-batches; each start runs on a fresh clone of the session.
    * Returns the gate.
    */
  private def statefulRun(batches: Int = 1): StreamGate = {
    val gate = new StreamGate("spec_reuse")
    spark.range(0, 40).repartition(batches).write.mode("append").parquet(gate.arrival)
    gate.run(StreamGate.source(spark, spark.range(1).schema, gate.arrival, maxFilesPerTrigger = 1)
      .groupBy((col("id") % 7).as("k")).count(), StreamGate.Update)
    gate
  }

  test("a second stateful stream run on a fresh gate compiles no new classes") {
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME
    statefulRun()
    val before = compiled.getCount
    statefulRun()
    assert(compiled.getCount - before == 0, "the second stream run recompiled its classes")
  }

  test("file: resolves to the engine's local filesystem through FileSystem and FileContext") {
    import org.apache.hadoop.fs.{FileContext, FileSystem}
    val conf = spark.sessionState.newHadoopConf()
    val root = new java.net.URI("file:///")
    // newInstance: FileSystem.get's cache is keyed by scheme and user, not conf
    val fs = FileSystem.newInstance(root, conf)
    try assert(fs.isInstanceOf[graft.io.ForklessLocalFileSystem], fs.getClass.getName)
    finally fs.close()
    val afs = FileContext.getFileContext(root, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[graft.io.ForklessLocalFs], afs.getClass.getName)
  }

  test("a stateful stream run starts fewer threads than its checkpoint has files") {
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
    def files(dir: String): Long = {
      val all = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try all.filter(java.nio.file.Files.isRegularFile(_)).count() finally all.close()
    }
    statefulRun(batches = 3)
    // each forked shell command starts one stderr-reader thread; Spark's
    // cached pools may refill during any one run, so two runs are counted
    val runs = Seq.fill(2) {
      val before = threads.getTotalStartedThreadCount
      val gate = statefulRun(batches = 3)
      (threads.getTotalStartedThreadCount - before, files(gate.ckpt))
    }
    assert(runs.exists { case (started, n) => started < n }, s"(threads started, checkpoint files): $runs")
  }

  test("a query rerun in a new session compiles no new classes") {
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME
    def run(s: org.apache.spark.sql.SparkSession): Unit =
      s.range(0, 100, 1, 4).selectExpr("id % 11 AS k").groupBy("k").count().collect(): Unit
    run(spark)
    val before = compiled.getCount
    run(spark.newSession())
    assert(compiled.getCount - before == 0, "the new session recompiled the query's classes")
  }

  test("q_bucketed_join leaves the session conf as it found it") {
    val before = spark.conf.getAll
    SparkEntry.queries("q_bucketed_join")(spark, sf)
    assert(spark.conf.getAll == before)
    spark.sql("DROP DATABASE IF EXISTS graft_buckets CASCADE")
  }

  test("q_range_join_auto restores the caller's range-join width") {
    val key = graft.plans.RangeJoinRule.WidthConfKey
    spark.conf.set(key, "86400")
    try {
      SparkEntry.queries("q_range_join_auto")(spark, sf)
      assert(spark.conf.getOption(key).contains("86400"))
    } finally spark.conf.unset(key)
  }
}
