package graft

import graft.queries.StreamingQueries.StreamGate
import org.apache.spark.sql.DataFrame

/** The streaming-gate runner's lifecycle contract: a failing lifecycle
  * surfaces its cause and tears the stream down, and repeated runs on one
  * gate resume from its checkpoint.
  */
class StreamGateSpec extends SparkTestBase {

  private def schema = spark.range(1).schema

  /** One parquet file of ids [from, until) arriving in `dir`. */
  private def arrive(dir: String, from: Long, until: Long): Unit =
    spark.range(from, until).repartition(1).write.mode("append").parquet(dir)

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(20).toSeq

  test("a foreachBatch that throws on batch 1 makes run rethrow its cause and leaves no active stream") {
    val gate = new StreamGate("spec_fail")
    Seq(0L, 10L, 20L).foreach(i => arrive(gate.arrival, i, i + 10))
    val planted = s"planted batch-1 failure in run ${gate.id}"
    val e = intercept[Throwable] {
      gate.run(StreamGate.source(spark, schema, gate.arrival, 1), StreamGate.Raw("append",
        (_: DataFrame, batchId: Long) => if (batchId == 1L) throw new RuntimeException(planted)))
    }
    assert(causes(e).exists(c => Option(c.getMessage).exists(_.contains(planted))),
      s"the planted message is not in the cause chain of $e")
    assert(spark.streams.active.isEmpty)
  }

  test("two runs on one checkpoint resume: the second lifecycle starts past the first's last batch") {
    val gate = new StreamGate("spec_resume")
    // batchId-keyed landing: unlike the parquet sink, it keeps no commit
    // log of its own that could mask a lost checkpoint
    def lifecycle(): Seq[Long] =
      gate.run(StreamGate.source(spark, schema, gate.arrival, 1), StreamGate.Update).recentProgress
        .filter(_.numInputRows > 0).map(_.batchId).toSeq
    arrive(gate.arrival, 0, 10); arrive(gate.arrival, 10, 20)
    val first = lifecycle()
    arrive(gate.arrival, 20, 30); arrive(gate.arrival, 30, 40)
    val second = lifecycle()
    assert(first.nonEmpty && second.nonEmpty, s"first=$first second=$second")
    assert(second.min > first.max, s"first=$first second=$second")
    // the resume reprocessed nothing and lost nothing
    val sink = spark.read.parquet(gate.sink)
    assert(sink.count() == 40L && sink.distinct().count() == 40L)
    assert(spark.streams.active.isEmpty)
  }

  test("a lifecycle that must commit but adds no sink rows fails, naming the gate") {
    import graft.queries.StreamingQueries.Feed
    // every row in band 0: band 1 lands as an empty file
    val landed = Feed.banded("spec_idle_feed", 2)(
      (s, _) => s.range(0, 10).withColumn("__band", org.apache.spark.sql.functions.lit(0)))
      .land(spark, "spec")
    val gate = new StreamGate("spec_idle")
    gate.runBands(landed, 0 to 0, mustCommit = true)(identity)
    val e = intercept[IllegalArgumentException] {
      gate.runBands(landed, 1 to 1, mustCommit = true)(identity)
    }
    assert(e.getMessage.contains("spec_idle") && e.getMessage.contains("lifecycle #2"), e.getMessage)
    assert(spark.read.parquet(gate.sink).count() == 10L)
    assert(spark.streams.active.isEmpty)
  }
}
