package graft

import graft.queries.StreamingQueries
import graft.queries.StreamingQueries.{Feed, StreamGate}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, expr, lit, max}
import org.apache.spark.sql.graftbridge.StateStoreProbe

/** The streaming-gate runner's contract: a failing lifecycle surfaces its
  * cause and tears the stream down, repeated runs on one gate resume from
  * its checkpoint, the first start pins the state partition rule, the
  * sink reads back with the schema the stream wrote, and a run leaves no
  * state store loaded.
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

  /** The state operators' partition counts in a lifecycle's progress. */
  private def stateParts(q: org.apache.spark.sql.streaming.StreamingQuery): Seq[Long] =
    q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq).map(_.numShufflePartitions).distinct

  private def keyCounts(gate: StreamGate) =
    gate.run(StreamGate.source(spark, schema, gate.arrival)
      .groupBy((col("id") % 5).as("k")).count(), StreamGate.Update)

  test("a stateful run's state operator runs at the partition rule for the session's slots") {
    val gate = new StreamGate("spec_parts")
    arrive(gate.arrival, 0, 40)
    // the session's batch count differs, so only the rule can produce the count
    val first = GraftSession.withConfs(spark, "spark.sql.shuffle.partitions" -> "3")(keyCounts(gate))
    val rule = StreamingQueries.streamShufflePartitions(spark)
    assert(stateParts(first) == Seq(rule.toLong), s"rule=$rule progress=${stateParts(first)}")
    // a second lifecycle restores the count its checkpoint pinned
    arrive(gate.arrival, 40, 80)
    val second = GraftSession.withConfs(spark, "spark.sql.shuffle.partitions" -> "32")(keyCounts(gate))
    assert(stateParts(second) == Seq(rule.toLong), s"rule=$rule progress=${stateParts(second)}")
    assert(spark.streams.active.isEmpty)
  }

  test("a stateful run leaves none of its state stores loaded") {
    val gate = new StreamGate("spec_unload")
    arrive(gate.arrival, 0, 40)
    val q = keyCounts(gate)
    val ckpt = new Path(gate.ckpt)
    val stateRoot = new Path(ckpt.getFileSystem(spark.sessionState.newHadoopConf()).makeQualified(ckpt), "state")
    val parts = stateParts(q)
    assert(parts.size == 1 && parts.head > 0, s"progress=$parts")
    val loaded = (0 until parts.head.toInt).filter(StateStoreProbe.isLoaded(stateRoot.toString, _, q.runId))
    assert(loaded.isEmpty, s"state partitions still loaded after the run: $loaded")
  }

  /** A gate whose `landing` lifecycle lands (bigint, timestamp_ntz,
    * string) rows over two micro-batches: an [[StreamGate.Update]] landing
    * aggregates them per string key.
    */
  private def landedGate(tag: String, landing: StreamGate.Landing): StreamGate = {
    val gate = new StreamGate(tag)
    arrive(gate.arrival, 0, 40); arrive(gate.arrival, 40, 80)
    val rows = StreamGate.source(spark, schema, gate.arrival, 1)
      .select(col("id"), expr("CAST(timestamp_millis(id * 1000) AS TIMESTAMP_NTZ)").as("ts"),
              expr("CAST(id % 7 AS STRING)").as("s"))
    gate.run(if (landing == StreamGate.Update)
               rows.groupBy(col("s")).agg(count(lit(1)).as("n"), max(col("ts")).as("last_ts"))
             else rows, landing)
    gate
  }

  test("a gate's rows read its Append and Update sinks as the inferring read does") {
    for (landing <- Seq(StreamGate.Append, StreamGate.Update)) {
      val gate = landedGate(s"spec_rows_${landing.mode}", landing)
      val inferred = spark.read.parquet(gate.sink)
      assert(gate.rows.schema == inferred.schema, landing)
      assert(gate.rows.columns.contains("batch") == (landing == StreamGate.Update), gate.rows.columns.toSeq)
      val (got, want) = (Harness.evaluate(spark)(gate.rows), Harness.evaluate(spark)(inferred))
      assert(got.rows > 0 && (got.rows, got.hash) == (want.rows, want.hash), s"$landing: $got vs $want")
    }
  }

  test("building a gate's rows starts no Spark job; the inferring read starts one") {
    val gate = landedGate("spec_rows_jobs", StreamGate.Append)
    assert(SparkEvents.during(spark)(gate.rows).jobs == 0)
    assert(SparkEvents.during(spark)(spark.read.parquet(gate.sink)).jobs == 1)
  }

  test("a must-commit first lifecycle that lands nothing fails as degenerate, naming the gate") {
    // band 0 holds no rows and lands as an empty file; band 1 holds them all
    val landed = Feed.banded("spec_empty_feed", 2)((s, _) => s.range(0, 10).withColumn("__band", lit(1)))
      .land(spark, "spec")
    // nothing arriving leaves the sink with its commit log and no data file
    for ((tag, bands) <- Seq("spec_no_band" -> (0 until 0), "spec_empty_band" -> (0 to 0))) {
      val gate = new StreamGate(tag)
      val e = intercept[IllegalArgumentException] {
        gate.runBands(landed, bands, mustCommit = true)(identity)
      }
      assert(e.getMessage.contains(tag) && e.getMessage.contains("lifecycle #1 committed no sink rows"),
        e.getMessage)
    }
    assert(spark.streams.active.isEmpty)
  }
}
