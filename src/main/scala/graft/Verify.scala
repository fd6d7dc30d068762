package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped, so a tab or CR in a query's SQL or a failure's cause cannot
    * make the file unparseable.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `{"name":"cause",…}` for the named failures. */
  private[graft] def failuresJson(failed: Iterable[(String, String)]): String =
    failed.map { case (k, v) => s"${jsonString(k)}:${jsonString(v)}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (comma-separated names), mirroring
    // SPARK_GRAFT_BENCH_ONLY; the driver leaves it unset. Blank entries are
    // ignored and an active filter is announced so a partial dump is visible.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { f =>
      System.err.println(
        s"[verify] SPARK_GRAFT_VERIFY_ONLY is set — PARTIAL dump over: ${f.toSeq.sorted.mkString(", ")}")
    }
    // every query that throws is named with its cause in failures.json
    // (`{}` when none did) and on stderr, and the run then exits 1
    val failed = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce folds the single-file
      // constraint back into the plan and serializes every stage after the
      // last shuffle onto one task; repartition inserts an exchange so the
      // query itself keeps its parallelism
      try {
        fn(spark, sfDir).repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> e.toString)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failures.json"), failuresJson(failed))
    failed.foreach { case (name, cause) => System.err.println(s"[verify] FAILED $name: $cause") }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
