package graft

import graft.queries.StorageQueries.ShardExport
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** The sharded-export runner's contract: a clean export lands exactly
  * `n` shard files and no temp file, a retried task still lands its shard,
  * and a task that fails for good makes the export rethrow its cause. No
  * run, failed or not, leaves a `_tmp-*` file behind.
  */
class ShardExportSpec extends SparkTestBase {
  import ShardExportSpec.writeLines

  private def rows: DataFrame = spark.range(40).toDF("id")

  private def files(dir: String, prefix: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith(prefix)).sorted

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20).toSeq

  test("40 rows at n = 8 land as 8 shard files and no temp file; the read leg returns each row once") {
    val landed = ShardExport(rows, "spec_export_clean", 8, col("id"), ".txt")(writeLines)
    assert(landed.records == 40L)
    assert(files(landed.dir, "shard-") == (0 until 8).map(i => f"shard-$i%05d.txt"))
    assert(files(landed.dir, "_tmp-").isEmpty)
    val ids = landed.shards.collect().toSeq
      .flatMap(b => new String(b, "UTF-8").split('\n').filter(_.nonEmpty).map(_.toLong))
    assert(ids.sorted == (0L until 40L))
  }

  test("a writer that throws on one shard's first attempt completes on the retry and leaves no temp file") {
    val landed = ShardExport(rows, "spec_export_retry", 8, col("id"), ".txt") { (out, it) =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 3 && tc.attemptNumber() == 0) {
        out.write("half a shard".getBytes("UTF-8")); out.flush()
        throw new RuntimeException("planted first-attempt failure")
      }
      writeLines(out, it)
    }
    assert(landed.records == 40L)
    assert(files(landed.dir, "shard-").length == 8)
    assert(files(landed.dir, "_tmp-").isEmpty, "the failed attempt's temp file survived")
  }

  test("a writer that throws on every attempt makes the export rethrow its cause and leaves no temp file") {
    val name = "spec_export_fail"
    val planted = "planted failure on every attempt of shard 5"
    val e = intercept[Throwable] {
      ShardExport(rows, name, 8, col("id"), ".txt") { (out, it) =>
        if (TaskContext.getPartitionId() == 5) throw new RuntimeException(planted)
        writeLines(out, it)
      }
    }
    assert(causes(e).exists(c => Option(c.getMessage).exists(_.contains(planted))),
      s"the planted message is not in the cause chain of $e")
    assert(files(graft.queries.StorageQueries.target(name), "_tmp-").isEmpty)
  }
}

object ShardExportSpec {
  /** The trivial line codec: one decimal id per line. It lives outside the
    * suite so task closures that call it do not capture the suite.
    */
  def writeLines(out: java.io.OutputStream, it: Iterator[Row]): Long = {
    var n = 0L
    it.foreach { r => out.write(s"${r.getLong(0)}\n".getBytes("UTF-8")); n += 1 }
    n
  }
}
