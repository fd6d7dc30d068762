package graft.tools

import graft.ReferencePipeline
import graft.udf.{Materializer, Param, TvfSpec, UdfSpec}
import org.apache.spark.sql.SparkSession

/** Cross-SESSION function persistence, proven by actually restarting: the
  * reference's entire thesis is that a UDF/TVF is a DURABLE catalog object
  * (`macros/udf/function.sql:4-7` guards the create against a relation that
  * is already in the warehouse from a PREVIOUS run) — everything else in
  * this repo verifies the surface within one `SparkSession`, and this main
  * closes the lifecycle:
  *
  *   - lifecycle #1 builds a Hive-catalog session over a fresh Derby
  *     metastore + warehouse, lands the source table as a PERSISTENT table,
  *     materializes `parse_datetime` (scalar) and `test_table_function`
  *     (TVF) as PERSISTENT (`temporary = false`) functions in a `udf`
  *     database — the reference's dataset routing — runs the datamart
  *     query, records its rows, and then STOPS the session AND its
  *     SparkContext;
  *   - lifecycle #2 builds a brand-new session (new SparkContext, same
  *     metastore dir), asserts both functions RESOLVE from the catalog
  *     with their persisted COMMENTs (O16) and WITHOUT any re-registration,
  *     re-runs the same query, and requires bit-identical rows.
  *
  * Run as its own JVM (`sbt "runMain graft.tools.PersistenceMain"`) because
  * stopping the shared SparkContext inside the test suite would kill
  * concurrently running suites. The companion in-suite grade is
  * `FunctionPersistenceSpec` (session-scoped temp functions vanish across
  * `newSession()`; the DDL registry replays them; persistent catalog
  * functions survive with no replay).
  *
  * Emits one JSON line: {"persistence":"PASS"|"FAIL", ...}.
  */
object PersistenceMain {

  private val Db = "udf" // the reference's UDF dataset name (dbt_project.yml:44-51)

  /** TVF body for the persistent variant: cross-session resolution means
    * everything the body references must itself be persistent — the
    * scalar UDF by its database-qualified name, the source as a real
    * warehouse table (a temp view dies with the session that made it).
    */
  private val persistentTvf: TvfSpec = {
    val t = ReferencePipeline.testTableFunctionSpec
    t.copy(query = t.query
      .replace("parse_datetime(", s"$Db.parse_datetime(")
      .replace("FROM test_table", s"FROM $Db.test_table"))
  }

  private def session(warehouse: String): SparkSession = {
    val s = graft.GraftSession.staticConfs(SparkSession.builder())
      .master("local[4]")
      .appName("graft-persistence")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$warehouse/wh")
      .config("spark.sql.catalogImplementation", "hive")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$warehouse/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.GraftSession.tune(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val warehouse =
      java.nio.file.Files.createTempDirectory("graft_persist_").toAbsolutePath.toString
    // TVF invocation in FROM only accepts a single-part name
    // (INVALID_SQL_SYNTAX on `FROM udf.tvf(...)`), so resolution rides the
    // current database — which is itself part of what a restart must
    // restore (`USE udf` + unqualified call in BOTH lifecycles)
    val query = s"SELECT column1, datetime FROM test_table_function('13') ORDER BY column1"

    // ---- lifecycle #1: create, run, STOP ----
    val s1 = session(warehouse)
    s1.sql(s"CREATE DATABASE IF NOT EXISTS $Db")
    ReferencePipeline.testTable(s1, sfDir)
      .write.mode("overwrite").saveAsTable(s"$Db.test_table")
    Materializer.materializeFunction(
      s1, ReferencePipeline.parseDatetimeSpec, database = Some(Db), temporary = false)
    Materializer.materializeTableFunction(
      s1, persistentTvf, database = Some(Db), temporary = false)
    s1.sql(s"USE $Db")
    val before = s1.sql(query).collect().map(_.toSeq).toSeq
    require(before.nonEmpty, "lifecycle #1 produced no rows — nothing at stake in the restart")
    s1.stop() // full teardown: session, SparkContext, in-JVM catalog state
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    // ---- lifecycle #2: fresh context, same metastore — resolve and re-run ----
    val s2 = session(warehouse)
    val fnExists = s2.catalog.functionExists(s"$Db.parse_datetime")
    val tvfExists = s2.catalog.functionExists(s"$Db.test_table_function")
    val fnComment = s2.sql(s"DESCRIBE FUNCTION $Db.parse_datetime")
      .collect().map(_.getString(0)).mkString("\n")
    val docsSurvived = fnComment.contains("multi-format datetime parse")
    s2.sql(s"USE $Db")
    val after = s2.sql(query).collect().map(_.toSeq).toSeq
    val identical = after == before
    val pass = fnExists && tvfExists && docsSurvived && identical
    // compact single-line artifact, parseable from a captured log tail
    println(
      s"""{"persistence":"${if (pass) "PASS" else "FAIL"}","fn_resolves":$fnExists,""" +
      s""""tvf_resolves":$tvfExists,"docs_survived":$docsSurvived,""" +
      s""""rows":${after.size},"rows_identical":$identical,"warehouse":"$warehouse"}""")
    s2.stop()
    if (!pass) sys.exit(1)
  }
}
