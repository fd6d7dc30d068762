package graft

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
}
