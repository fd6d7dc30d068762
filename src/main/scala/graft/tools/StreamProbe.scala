package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Dev probe for the optimization round: replicate the canonical streaming
  * gate shape (banded file source -> watermarked window agg -> parquet sink,
  * Trigger.AvailableNow, 8 state partitions) and print the engine's own
  * per-batch durationMs breakdown (triggerExecution, queryPlanning,
  * walCommit, commitOffsets, addBatch, getBatch, latestOffset) so the fixed
  * lifecycle cost is attributed, not guessed. Not part of the driver
  * contract.
  *
  * Usage: runMain graft.tools.StreamProbe <sfDir> [reps]
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 3
    val stateParts = if (args.length > 2) args(2) else "8"
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)

    val eventsDf = graft.streaming.Streaming.eventsBatch(spark, sfDir).toDF()
    val feed = eventsDf
    // land 4 time bands like the gates do (reuses StreamingQueries' cache
    // via the same helper would need private access; land here directly)
    val mm = feed.agg(min(unix_millis(col("ts"))).as("t0"),
                      max(unix_millis(col("ts"))).as("t1")).head()
    val (t0, t1) = (mm.getLong(0), mm.getLong(1))
    val banded = feed.withColumn("__band",
      least(lit(3), floor(((unix_millis(col("ts")) - t0) * 4) / (t1 - t0 + 1))).cast("int"))
    val land = java.nio.file.Files.createTempDirectory("probe_land_").toString
    (0 until 4).foreach { i =>
      val tmp = land + s"/_tmp$i"
      banded.where(col("__band") === i).drop("__band")
        .repartition(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(land, f"b$i%04d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
    }

    (1 to reps).foreach { rep =>
      val wall0 = System.nanoTime()
      graft.GraftSession.withConfs(spark, "spark.sql.shuffle.partitions" -> stateParts) {
        val src = spark.readStream.schema(feed.schema)
          .option("maxFilesPerTrigger", "1").parquet(land)
        val sinkDir = java.nio.file.Files.createTempDirectory(s"probe_sink_$rep").toString
        val ckpt = java.nio.file.Files.createTempDirectory(s"probe_ckpt_$rep").toString
        val tStart0 = System.nanoTime()
        val q = graft.streaming.Streaming.windowedCounts(src)
          .writeStream.format("parquet")
          .option("path", sinkDir)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        val tStart1 = System.nanoTime()
        q.processAllAvailable(); q.awaitTermination()
        val tRun = System.nanoTime()
        val n = spark.read.parquet(sinkDir).count()
        val tRead = System.nanoTime()
        println(f"rep $rep: start=${(tStart1 - tStart0) / 1e9}%.2fs run=${(tRun - tStart1) / 1e9}%.2fs readback=${(tRead - tRun) / 1e9}%.2fs total=${(tRead - wall0) / 1e9}%.2fs rows=$n")
        q.recentProgress.foreach { p =>
          val d = p.durationMs
          println(s"  batch ${p.batchId}: " + Seq(
            "triggerExecution", "latestOffset", "getBatch", "queryPlanning",
            "walCommit", "commitOffsets", "addBatch").map(k =>
              s"$k=${Option(d.get(k)).getOrElse("-")}").mkString(" "))
        }
      }
    }
    spark.stop()
  }
}
