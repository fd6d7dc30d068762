package graft.tools

/** Dev harness for the optimization rounds: dump `explain("formatted")` for
  * named queries to files (plans/rNN/<query>_<tag>.txt), on the session the
  * bench uses ([[graft.GraftSession.local]] at `SPARK_GRAFT_CPUS` threads,
  * 4 when unset), so plan claims in OPTIMIZATION_r*.md are reproducible
  * artifacts rather than prose.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <tag> <sfDir> <name> [name...]
  *
  * NOTE: building a QueryDef can have side effects (landing sink files;
  * streaming gates RUN their stream and return the sink readback, so their
  * dumped plan is the readback's — still the honest "what the bench times
  * last", but the stream's own plan is in the checkpoint's offsets/metadata,
  * not here). Each build and its explain run inside [[graft.Harness.scope]],
  * as the bench's evaluation does (the cache contract in
  * [[graft.queries.QueryDef]]), so a dumped plan shows the build's own
  * persisted intermediates and no other query's.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val sfDir = args(2)
    val names = args.drop(3)
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val plan = graft.Harness.scope(spark) {
        graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      }
      val p = java.nio.file.Paths.get(outDir, s"${name}_$tag.txt")
      java.nio.file.Files.write(p, plan.getBytes("UTF-8"))
      println(s"PLAN $name -> $p")
    }
    spark.stop()
  }
}
