package graft

import org.apache.spark.metrics.source.CodegenMetrics

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
