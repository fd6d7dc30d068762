package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory made executable: one named query per
  * implemented operator, each with (where SQL-expressible) a DuckDB oracle
  * in `oracleSql` whose column names match the Spark result exactly.
  */
object SparkEntry {

  private def registry: Seq[QueryDef] =
    ParityQueries.defs ++ RelationalQueries.defs ++ SemiStructuredQueries.defs ++
      TextQueries.defs ++ DedupQueries.defs ++ SimilarityQueries.defs ++
      MediaQueries.defs ++ PipelineQueries.defs ++ StreamingQueries.defs ++
      GraphQueries.defs ++ StorageQueries.defs ++ ValidationQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the reference's whole 3-node pipeline (UDF + TVF + datamart).
    */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.tune(spark)
    ReferencePipeline.datamart(spark, "/root/testdata/sf0.001", id = "13")
  }

  /** One entry per implemented operator from SURVEY.md §2. Each build runs
    * on a session [[GraftSession.tune]] has just been applied to, so a
    * session built elsewhere plans under the same policy as one from
    * [[GraftSession.local]], whatever ran on it before.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { q =>
      q.name -> ((spark: SparkSession, dir: String) => q.build(GraftSession.tune(spark), dir))
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
