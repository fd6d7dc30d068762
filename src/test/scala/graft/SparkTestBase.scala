package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. One session per suite (lazy).
  *
  * Like every main (see [[Harness.scope]]), the suite owns the session's
  * cache: once the session exists it clears the cache after every test, so
  * no test drops the intermediates its query builds persisted.
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterEach {
  private var started = false
  lazy val spark: SparkSession = {
    started = true
    GraftSession.local(threads = 8, appName = suiteName)
  }
  val sf: String = "/root/testdata/sf0.001"

  override protected def afterEach(): Unit =
    try if (started) spark.catalog.clearCache() finally super.afterEach()
}
