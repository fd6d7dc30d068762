package graft

import graft.udf.{Materializer, Registry}
import org.apache.spark.sql.AnalysisException

/** Functions as DURABLE catalog objects — the reference's thesis
  * (macros/udf/function.sql:4-7 guards against a relation already in the
  * warehouse from a previous run), graded at the session boundary this
  * suite can safely cross: `spark.newSession()` resets ALL session state
  * (temp views, temp functions, current database) while keeping the shared
  * external catalog — exactly the boundary between "session-scoped
  * convenience" and "managed catalog object".
  *
  * The full cold-restart story (new JVM-equivalent: stop the SparkContext,
  * rebuild against the same Derby metastore) lives in
  * [[graft.tools.PersistenceMain]] — it cannot run in-suite because the
  * suites share one SparkContext. Evidence: `git show 97f784c:tools/persistence_restart_r11.log`.
  */
class FunctionPersistenceSpec extends SparkTestBase {

  private val probe = "SELECT parse_datetime('2024/01/02 03:04:05') AS dt"

  test("temp functions die with the session; the DDL registry replays them") {
    val dir = java.nio.file.Files.createTempDirectory("graft_registry_").toString
    Registry.materializeAndSave(spark, dir,
      udfs = Seq(ReferencePipeline.parseDatetimeSpec), tvfs = Seq.empty,
      temporary = true)
    val before = spark.sql(probe).collect().map(_.get(0).toString).toSeq
    assert(before == Seq("2024-01-02T03:04:05"))  // TIMESTAMP_NTZ rows are LocalDateTime

    // a fresh session: the temp function is GONE — it was never a catalog
    // object, which is precisely the failure mode the materializer's
    // non-temporary path exists to prevent
    val s2 = spark.newSession()
    GraftSession.tune(s2)
    intercept[AnalysisException] { s2.sql(probe).collect() }

    // the registry replay is the whole bootstrap: one saved DDL file,
    // replayed, and the fresh session answers identically
    assert(Registry.bootstrap(s2, dir) == 1)
    assert(s2.sql(probe).collect().map(_.get(0).toString).toSeq == before)
  }

  test("persistent catalog functions survive a new session with no replay") {
    val spec = ReferencePipeline.parseDatetimeSpec.copy(name = "parse_datetime_persist")
    Materializer.materializeFunction(spark, spec, database = Some("udfspec"),
      temporary = false)
    val s2 = spark.newSession()
    GraftSession.tune(s2)
    assert(s2.catalog.functionExists("udfspec.parse_datetime_persist"),
      "a non-temporary function must resolve from the catalog in a fresh session")
    val got = s2.sql(
      "SELECT udfspec.parse_datetime_persist('2024-01-02 03:04:05') AS dt")
      .collect().map(_.get(0).toString).toSeq
    assert(got == Seq("2024-01-02T03:04:05"))
    // docs persisted through the catalog too (O16)
    val desc = s2.sql("DESCRIBE FUNCTION udfspec.parse_datetime_persist")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("multi-format datetime parse"))
  }
}
