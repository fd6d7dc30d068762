package graft.udf

import org.apache.spark.sql.SparkSession

/** Materializes [[UdfSpec]]/[[TvfSpec]] objects into the Spark catalog —
  * the engine-native port of the reference's custom dbt materializations
  * (/root/reference/macros/udf/function.sql:1-32 and
  *  /root/reference/macros/udf/table_function.sql:1-32) and their DDL
  * generators (get_create_function_as_sql.sql:13-17,
  *  get_create_table_function_as_sql.sql:11-15).
  *
  * Lifecycle kept from the reference: existence/type-conflict guard →
  * pre-hooks → main DDL → post-hooks. The dbt `commit` step disappears
  * (Spark catalog DDL is immediate), and the relation-cache update is
  * subsumed by `spark.catalog` itself (SURVEY.md §4).
  *
  * Spark 4 SQL UDFs/TVFs are inlined into the calling plan during analysis,
  * so a registered function costs nothing at execution time: Catalyst sees
  * the expanded expression/query and optimizes through it (pushdown, codegen)
  * exactly as if the user had written it inline. That property is what makes
  * "UDF as managed object" free at 100 TB scale.
  */
object Materializer {

  /** `CREATE OR REPLACE FUNCTION` DDL for a scalar UDF — port of
    * get_create_function_as_sql.sql:13-17 with BigQuery `OPTIONS(description)`
    * expressed as Spark `COMMENT`.
    */
  def createFunctionSql(spec: UdfSpec, database: Option[String] = None, temporary: Boolean = false): String =
    functionDdl(spec.name, spec.params, s"RETURNS ${spec.returnType}", spec.body,
      spec.description, database, temporary)

  /** `CREATE OR REPLACE FUNCTION … RETURNS TABLE` DDL for a TVF — port of
    * get_create_table_function_as_sql.sql:11-15. No output schema is declared;
    * Spark infers it from the body, like BigQuery.
    */
  def createTableFunctionSql(spec: TvfSpec, database: Option[String] = None, temporary: Boolean = false): String =
    functionDdl(spec.name, spec.params, "RETURNS TABLE", spec.query,
      spec.description, database, temporary)

  /** The one DDL shape behind both generators: a temporary function is
    * never database-qualified and carries no `COMMENT`.
    */
  private def functionDdl(name: String, params: Seq[Param], returns: String, body: String,
                          description: String, database: Option[String],
                          temporary: Boolean): String = {
    val temp = if (temporary) "TEMPORARY " else ""
    val qualified = database.filter(_ => !temporary).map(d => s"$d.").getOrElse("") + name
    val comment =
      if (description.nonEmpty && !temporary) s"\n  COMMENT '${escape(description)}'" else ""
    s"""CREATE OR REPLACE ${temp}FUNCTION $qualified(${params.map(_.ddl).mkString(", ")})
       |  $returns$comment
       |  RETURN $body""".stripMargin
  }

  /** Port of the reference's materialization lifecycle
    * (function.sql:4-30). Raises if the target name already exists as a
    * table/view (the type-conflict guard at function.sql:5-7), runs
    * pre-hooks, the DDL, then post-hooks.
    */
  def materialize(
      spark: SparkSession,
      ddl: String,
      name: String,
      preHooks: Seq[String] = Nil,
      postHooks: Seq[String] = Nil
  ): Unit = {
    if (spark.catalog.tableExists(name))
      throw new IllegalStateException(
        s"Trying to create function $name, but it currently exists as a table/view. " +
          "Either drop it, or rename the function."
      )
    preHooks.foreach(spark.sql(_))
    spark.sql(ddl)
    postHooks.foreach(spark.sql(_))
  }

  def materializeFunction(
      spark: SparkSession,
      spec: UdfSpec,
      database: Option[String] = None,
      temporary: Boolean = true,
      preHooks: Seq[String] = Nil,
      postHooks: Seq[String] = Nil
  ): Unit =
    materializeIn(spark, createFunctionSql(spec, database, temporary), spec.name,
      database, temporary, preHooks, postHooks)

  def materializeTableFunction(
      spark: SparkSession,
      spec: TvfSpec,
      database: Option[String] = None,
      temporary: Boolean = true,
      preHooks: Seq[String] = Nil,
      postHooks: Seq[String] = Nil
  ): Unit =
    materializeIn(spark, createTableFunctionSql(spec, database, temporary), spec.name,
      database, temporary, preHooks, postHooks)

  /** [[materialize]] after creating the target database of a persistent
    * function.
    */
  private def materializeIn(spark: SparkSession, ddl: String, name: String,
                            database: Option[String], temporary: Boolean,
                            preHooks: Seq[String], postHooks: Seq[String]): Unit = {
    database.filter(_ => !temporary).foreach { db =>
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    }
    materialize(spark, ddl, name, preHooks, postHooks)
  }

  /** Escape `s` for a single-quoted Spark SQL string literal. */
  private[udf] def escape(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")
}
