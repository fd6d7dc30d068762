package graft

import graft.functions.BqFunctions
import graft.queries.StorageQueries
import graft.udf._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{CatalogBridge, PlanBridge}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.lang.ref.WeakReference

/** The reference's flagship 3-node pipeline, end-to-end on Spark:
  *
  * {{{
  * source test_table (id, column1, column2)      <- derived from events
  *   │ scanned by
  * TVF test_table_function(id STRING)            <- cast + parse_datetime + filter
  *   │ invoked by
  * table test_datamart (column1 LONG, datetime TIMESTAMP_NTZ)
  * }}}
  *
  * mirroring /root/reference/models/udf/table_function/test_table_function.sql:8-14
  * and /root/reference/models/datamart/test_datamart.sql:1-5. The source table
  * (/root/reference/models/udf/source.yml:4-9) is played by `events`:
  * `user_id` -> `id` (the TVF filter key), `event_id` -> `column1` (the CAST
  * exercise), and `column2` is the event timestamp formatted into one of the
  * five layouts `parse_datetime` accepts, rotated by `event_id % 5`, so every
  * parse arm is exercised (FIXTURES.md).
  *
  * Note on the reference's `WHERE id = '{{ id }}'` (test_table_function.sql:13):
  * that Jinja splice renders at dbt-compile time; we implement the evident
  * intent — the predicate binds to the call-site argument at runtime
  * (SURVEY.md §2 O3), passed as a bound query parameter. The TVF is a real
  * catalog object (`CREATE FUNCTION … RETURNS TABLE`), so Catalyst inlines
  * the body into every calling plan. [[register]] materializes the three
  * catalog objects once per session, over a copy of the source clustered by
  * `id`, and analyzes the datamart query once; each `datamart` call only
  * binds its id into that plan and runs it.
  */
object ReferencePipeline {

  /** The five Spark format strings used to *render* column2 (the inverse of
    * the parse arms), index-aligned with BqFunctions.parseDatetimeFormats.
    */
  private val renderFormats = Seq(
    "yyyy/MM/dd HH:mm:ss",
    "yyyy/MM/dd",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
    "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
  )

  /** DuckDB strftime equivalents, for the oracle. */
  val renderFormatsDuckDb: Seq[String] = Seq(
    "%Y/%m/%d %H:%M:%S",
    "%Y/%m/%d",
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%d",
    "%Y-%m-%dT%H:%M:%S.%fZ"
  )

  /** The stand-in for the reference's source table
    * `joshua-1000.joshua_dataset.test_table` (id, column1, column2 — all STRING).
    * The registered `test_table` view does not read this plan: [[register]]
    * writes its rows once, clustered by `id`, keyed to the source's file
    * listing and the session time zone, and the view reads that copy.
    */
  def testTable(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val fmt = renderFormats.zipWithIndex.foldLeft(lit(null: String)) {
      case (acc, (f, i)) =>
        when(pmod(col("event_id"), lit(5)) === i, date_format(col("ts"), f)).otherwise(acc)
    }
    ev.select(
      col("user_id").cast("string").as("id"),
      col("event_id").cast("string").as("column1"),
      fmt.as("column2")
    )
  }

  /** The managed scalar UDF, as a spec (SURVEY.md §2 O11/O15/O16). */
  val parseDatetimeSpec: UdfSpec = UdfSpec(
    name = "parse_datetime",
    params = Seq(Param("timestamp_expression", "STRING")),
    returnType = "TIMESTAMP_NTZ",
    body = BqFunctions.parseDatetimeSqlBody("timestamp_expression"),
    description = "Lenient multi-format datetime parse; raises if no format matches (reference parse_datetime.sql)."
  )

  /** The managed TVF (SURVEY.md §2 O12): scan + cast + UDF call + filter. */
  val testTableFunctionSpec: TvfSpec = TvfSpec(
    name = "test_table_function",
    params = Seq(Param("filter_id", "STRING")),
    query = """SELECT
              |    CAST(column1 AS BIGINT) AS column1,
              |    parse_datetime(column2) AS datetime
              |  FROM test_table
              |  WHERE id = filter_id""".stripMargin,
    description = "Rows of test_table for one id, with column1 cast and column2 parsed."
  )

  /** Bytes per parquet row group of the clustered source copy. At sf0.1
    * `events` holds 100,000 rows over 1,500 ids, about 67 rows per id, and a
    * 64 KiB group holds about 1,750 rows (about 26 ids), so one id's rows
    * fall in one or two groups and a call reads at most about 3,500 rows
    * where a scan of the source reads all 100,000. Smaller groups skip more
    * rows but pay a footer entry and a read setup per group.
    */
  private val CopyRowGroupBytes = 64 * 1024

  /** Files in the clustered copy: ranges of `id`, so each id's rows sit in
    * one file and a call's scan skips the other file by its footer alone.
    * Two files write as two tasks; on a 4-core host a one-file copy cut
    * `reference_pipeline`'s `pass_s` by 17% where two files cut it by 21%.
    */
  private val CopyFiles = 2

  /** The columns the copy holds, all strings as in `testTable`, so the
    * view reads it without a schema-inference job.
    */
  private val TestTableSchema = StructType(Seq("id", "column1", "column2").map(StructField(_, StringType)))

  /** The text of the datamart query (the reference's models/datamart/test_datamart.sql:1-5). */
  private[graft] val DatamartSql =
    """SELECT column1, datetime
      |FROM test_table_function(:id)
      |ORDER BY column1""".stripMargin

  /** The value `:id` is bound to when a registration prepares the datamart
    * query; [[datamart]] replaces this literal in the prepared plan with the
    * caller's id. A caller's id equal to it replaces it with itself.
    */
  private[graft] val IdMarker = ":id"

  /** Materialize the source view, the UDF and the TVF into `spark`'s catalog
    * — once per session and `sfDir`, like the reference's own `function` and
    * `table_function` nodes, which dbt materializes once and the datamart
    * then only calls — and prepare the datamart query against them.
    *
    * The source is read from a copy of [[testTable]] clustered by `id`
    * ([[clusteredCopy]]): the reference's `test_table` is a table, and the
    * TVF's `WHERE id = filter_id` then reaches the scan as a pushed filter
    * that row-group statistics answer. The copy is keyed to the source's
    * file listing and the session time zone, and written once per process
    * for each key; re-registrations reuse it.
    *
    * A later call skips all of this while the registration holds: the
    * session still has the exact catalog instances it created for this
    * `sfDir`, and its runtime SQL conf is the one the query was prepared
    * under (analysis bakes in settings such as the ANSI cast mode and the
    * time zone). Any of them dropped or replaced, even by an identical
    * definition, another `sfDir`, or a changed conf registers again and
    * re-prepares. A source file changed under a holding registration is
    * seen at the next registration, as a view over the source saw it at its
    * next creation. Safe to call from concurrent threads (the
    * [[graft.udf.ModelRunner]] pool does).
    */
  def register(spark: SparkSession, sfDir: String): Unit = registration(spark, sfDir): Unit

  /** The session's holding registration for `sfDir`, made if there is none. */
  private def registration(spark: SparkSession, sfDir: String): Registration =
    Registration.Lock.synchronized {
      Registration.of(spark).filter(_.holds(spark, sfDir)).getOrElse {
        spark.read.schema(TestTableSchema).parquet(clusteredCopy(spark, sfDir))
          .createOrReplaceTempView("test_table")
        Materializer.materializeFunction(spark, parseDatetimeSpec, temporary = true)
        Materializer.materializeTableFunction(spark, testTableFunctionSpec, temporary = true)
        val prepared = spark.sql(DatamartSql, Map("id" -> IdMarker)).queryExecution.analyzed
        require(prepared.exists(_.expressions.exists(_.exists(_ == MarkerLiteral))),
          s"the prepared datamart query carries no '$IdMarker' literal to bind")
        Registration.attach(spark, new Registration(spark, sfDir, prepared))
      }
    }

  private val MarkerLiteral = Literal(IdMarker)

  /** The directory of `testTable(spark, sfDir)` written as parquet sorted
    * by `id` into [[CopyFiles]] files of [[CopyRowGroupBytes]] row groups.
    * It lives under the process's sink root, named by a hash of what
    * `testTable` reads: the source's file listing (path, length, mtime of
    * each file) and the session time zone, which `date_format` renders
    * `column2` in. A copy is written to a temp dir, moved into place, then
    * marked complete; a directory without its marker is written again.
    */
  private def clusteredCopy(spark: SparkSession, sfDir: String): String = {
    val src = new Path(s"$sfDir/events.parquet")
    val files = src.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(src, true)
    val listing = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}").toSeq.sorted
    val key = (listing :+ spark.conf.get("spark.sql.session.timeZone")).mkString("\n")
    val hash = java.security.MessageDigest.getInstance("SHA-256").digest(key.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    val dir = new java.io.File(StorageQueries.target(s"test_table_$hash"))
    val marker = new java.io.File(dir, "_CLUSTERED")
    if (!marker.isFile) {
      val tmp = new java.io.File(dir.getPath + "_tmp")
      StorageQueries.deleteRecursively(tmp)
      StorageQueries.deleteRecursively(dir)
      testTable(spark, sfDir).repartitionByRange(CopyFiles, col("id")).sortWithinPartitions("id")
        .write.option("parquet.block.size", CopyRowGroupBytes.toLong).parquet(tmp.getPath)
      java.nio.file.Files.move(tmp.toPath, dir.toPath)
      java.nio.file.Files.write(marker.toPath, key.getBytes("UTF-8")): Unit
    }
    dir.getPath
  }

  /** What one registration made: the catalog's own instances of the UDF
    * and the TVF, the runtime SQL conf it prepared under, and the prepared
    * datamart plan. It hangs off the catalog's instance of the view it
    * created (a tag on that plan node), so it lives exactly as long as that
    * view: replacing the view drops it, and since the session owns the view,
    * the prepared plan (which references the session) cannot keep the
    * session alive. The owner is held weakly, so a cloned session that
    * shares the view instance registers for itself.
    */
  private final class Registration(spark: SparkSession, sfDir: String, val prepared: LogicalPlan) {
    private val owner = new WeakReference(spark)
    private val functions = Registration.functions(spark)
    private val conf = spark.conf.getAll
    def holds(s: SparkSession, dir: String): Boolean =
      (owner.get eq s) && dir == sfDir && Registration.functions(s).zip(functions).forall {
        case (a, b) => a.exists(x => b.exists(_ eq x))
      } && s.conf.getAll == conf
  }

  private object Registration {
    /** Serializes registrations and guards the tag on the views. */
    val Lock = new Object
    private val Tag = TreeNodeTag[Registration]("graft.ReferencePipeline.registration")

    def functions(spark: SparkSession): Seq[Option[AnyRef]] = {
      val c = CatalogBridge.catalog(spark)
      Seq(c.lookupBuiltinOrTempFunction(parseDatetimeSpec.name),
        c.lookupBuiltinOrTempTableFunction(testTableFunctionSpec.name))
    }

    def of(spark: SparkSession): Option[Registration] =
      CatalogBridge.catalog(spark).getRawTempView("test_table").flatMap(_.getTagValue(Tag))

    def attach(spark: SparkSession, r: Registration): Registration = {
      CatalogBridge.catalog(spark).getRawTempView("test_table").get.setTagValue(Tag, r)
      r
    }
  }

  /** The datamart query ([[DatamartSql]]) for one id. The call binds `id`
    * as a string literal into the plan its [[register]]ation analyzed, over
    * the clustered source copy, and builds the DataFrame from that plan, so
    * it neither parses the query nor resolves it again. The id never enters
    * SQL text, so no id can change the query: it binds exactly as `:id`
    * does in `spark.sql(DatamartSql, Map("id" -> id))`. The call re-prepares
    * when [[register]] does: after a registered object was dropped or
    * replaced, for another `sfDir`, or once the runtime SQL conf changed.
    */
  def datamart(spark: SparkSession, sfDir: String, id: String = "13"): DataFrame = {
    val bound = Literal(id)
    PlanBridge.dataFrame(spark, registration(spark, sfDir).prepared.transformAllExpressions {
      case MarkerLiteral => bound
    })
  }

  /** The datamart as a managed Table model with persisted docs — the full
    * `+persist_docs: {relation: true, columns: true}` path of the reference
    * (dbt_project.yml:41-43 applied to models/datamart/schema.yml:4-10):
    * materializing through [[ModelRunner]] writes the table AND its
    * relation/column comments into the catalog, so `DESCRIBE` shows them.
    */
  def datamartModel(sfDir: String, id: String = "13"): Model = Model(
    name = "test_datamart",
    refs = Nil,
    build = s => datamart(s, sfDir, id),
    materialization = Materialization.Table,
    docs = ModelDocs(
      description = Some("Datamart table for testing (reference schema.yml: '測試用的 datamart 表')."),
      columns = Map(
        "column1"  -> "INT64 id column cast from the source (schema.yml type INT64)",
        "datetime" -> "parsed civil datetime, no timezone (schema.yml type DATETIME)"))
  )
}
