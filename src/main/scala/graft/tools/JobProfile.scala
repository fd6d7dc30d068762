package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev harness for the optimization rounds: run ONE named query under the
  * bench's session shape and evaluation (count + bit_xor(xxhash64(struct(*)))),
  * with a SparkListener recording every job's wall time and call site, so a
  * multi-action composite (export pipelines, iterative CC, landings) can be
  * decomposed into its actual per-job costs instead of guessed at (guide
  * §1.1: decide whether the time is compute, shuffle or scheduling — per
  * job — before touching anything).
  *
  * Usage: runMain graft.tools.JobProfile <sfDir> <name> [name...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    val jobStages = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // the last stage's name carries the action's call site
        val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
        jobStages.put(js.jobId, site)
        starts.put(js.jobId, System.nanoTime()): Unit
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { t0 =>
          val site = Option(jobStages.remove(je.jobId)).getOrElse("?")
          rows.add((je.jobId, (System.nanoTime() - t0) / 1e9, site)): Unit
        }
      }
    })

    // same warmup as Bench so the first job isn't charged session startup
    spark.range(1000000L).selectExpr("sum(id)").collect()
    graft.Tables.load(spark, sfDir, "region").count()

    names.foreach { name =>
      rows.clear()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.select(org.apache.spark.sql.functions.struct(
          df.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*).as("s"))
        .selectExpr("count(*) AS n", "bit_xor(xxhash64(s)) AS h")
        .collect()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // drain after the final action so late listener events land
      Thread.sleep(300)
      val jobs = rows.toArray(Array.empty[(Int, Double, String)]).sortBy(_._1)
      println(f"== $name: wall $wall%.2f s, ${jobs.length} jobs, job-sum ${jobs.map(_._2).sum}%.2f s ==")
      jobs.foreach { case (id, sec, site) => println(f"  job $id%3d  $sec%6.3f s  $site") }
    }
    spark.stop()
  }
}
