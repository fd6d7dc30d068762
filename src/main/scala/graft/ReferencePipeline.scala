package graft

import graft.functions.BqFunctions
import graft.udf._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CatalogBridge

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
  * catalog objects once per session; each `datamart` call only invokes them.
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

  /** Materialize the source view, the UDF and the TVF into `spark`'s catalog
    * — once per session and `sfDir`, like the reference's own `function` and
    * `table_function` nodes, which dbt materializes once and the datamart
    * then only calls. A later call skips the DDL (and the parquet schema read
    * behind the view) only while the session still holds the exact catalog
    * instances the last registration for this `sfDir` created; any of them
    * dropped or replaced, even by an identical definition, or another
    * `sfDir`, registers again. Safe to call from concurrent threads (the
    * [[graft.udf.ModelRunner]] pool does).
    */
  def register(spark: SparkSession, sfDir: String): Unit = {
    registrations.synchronized {
      if (!Option(registrations.get(spark)).exists(_.holds(spark, sfDir))) {
        testTable(spark, sfDir).createOrReplaceTempView("test_table")
        Materializer.materializeFunction(spark, parseDatetimeSpec, temporary = true)
        Materializer.materializeTableFunction(spark, testTableFunctionSpec, temporary = true)
        registrations.put(spark, new Registration(sfDir, catalogObjects(spark)))
      }
    }
  }

  /** The catalog's own instances of the three registered objects. */
  private def catalogObjects(spark: SparkSession): Seq[Option[AnyRef]] = {
    val c = CatalogBridge.catalog(spark)
    Seq(
      c.getRawTempView("test_table"),
      c.lookupBuiltinOrTempFunction(parseDatetimeSpec.name),
      c.lookupBuiltinOrTempTableFunction(testTableFunctionSpec.name))
  }

  /** What one registration left in a session's catalog. The instances are
    * held weakly: the view's plan references its session, so a strong
    * reference here would keep the session (the map's weak key) alive.
    */
  private final class Registration(sfDir: String, objects: Seq[Option[AnyRef]]) {
    private val refs = objects.map(o => new WeakReference(o.orNull))
    def holds(spark: SparkSession, dir: String): Boolean =
      dir == sfDir && catalogObjects(spark).zip(refs).forall { case (o, r) => o.exists(_ eq r.get) }
  }

  private val registrations = new java.util.WeakHashMap[SparkSession, Registration]()

  /** The datamart query (/root/reference/models/datamart/test_datamart.sql:1-5).
    * The TVF argument is bound as the named parameter `:id`, never spliced
    * into the SQL text, so no id can change the query.
    */
  def datamart(spark: SparkSession, sfDir: String, id: String = "13"): DataFrame = {
    register(spark, sfDir)
    spark.sql(
      """SELECT column1, datetime
        |FROM test_table_function(:id)
        |ORDER BY column1""".stripMargin,
      Map("id" -> id))
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
