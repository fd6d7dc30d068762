package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructType}

/** Pins the assumption the whole file-fed streaming harness rests on:
  * `FileStreamSource` processes landed band files OLDEST-MODIFICATION-TIME
  * FIRST, so with `maxFilesPerTrigger=1` band i replays as micro-batch i.
  * Every order-sensitive streaming query (sessionize, watermarked windows,
  * the interval join) depends on this — if Spark ever changed the listing
  * order, those queries' oracles would catch it indirectly; this spec
  * catches it DIRECTLY, with the band→batch mapping spelled out.
  */
class LandBandsSpec extends SparkTestBase {

  test("bands replay as micro-batches in band (mtime) order, one per trigger") {
    import spark.implicits._
    val nBands = 4
    // v encodes its band (v / 1000), so batch contents identify bands
    val df = (0 until nBands).flatMap(b => (0 until 50).map(i => (b * 1000L + i, b)))
      .toDF("v", "__band")
    val land = graft.queries.StreamingQueries.landBands(df, nBands, "spec_land_order", "spec")

    // the landed files must carry strictly increasing mtimes in band order
    // (_LANDED is the land-once cache marker; hidden from Spark's listing)
    val files = new java.io.File(land).listFiles()
      .filterNot(_.getName.startsWith("_")).sortBy(_.getName)
    assert(files.map(_.getName).toSeq == (0 until nBands).map(i => f"b$i%04d.parquet"),
      "one file per band, named in band order")
    assert(files.map(_.lastModified).sliding(2).forall(p => p(0) < p(1)),
      "band mtimes must be strictly increasing")

    val batches = scala.collection.mutable.ArrayBuffer[(Long, Set[Long])]()
    val q = spark.readStream
      .schema(new StructType().add("v", LongType))
      .option("maxFilesPerTrigger", "1").parquet(land)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        batches.synchronized { batches += ((id, b.collect().map(_.getLong(0)).toSet)) }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.awaitTermination()

    val ordered = batches.sortBy(_._1).toSeq
    assert(ordered.size == nBands, s"expected $nBands micro-batches, got ${ordered.size}")
    for (((_, vs), b) <- ordered.zipWithIndex) {
      assert(vs.nonEmpty && vs.forall(_ / 1000 == b),
        s"micro-batch $b must hold exactly band $b's rows, got bands ${vs.map(_ / 1000)}")
    }
  }

  test("landBands lands once per (name, sf key); a key change re-lands") {
    import spark.implicits._
    val df = (0 until 2).flatMap(b => (0 until 5).map(i => (b * 10L + i, b)))
      .toDF("v", "__band")
    val land = graft.queries.StreamingQueries.landBands(df, 2, "spec_land_cache", "sfA")
    val b1 = new java.io.File(land, "b0001.parquet")
    assert(b1.isFile)
    // a canary distinguishes a cache hit (dir untouched, canary survives)
    // from a re-land (dir wiped first, canary gone) — band mtimes can't,
    // they are deterministic stamps
    val canary = new java.io.File(land, "_canary")
    java.nio.file.Files.write(canary.toPath, Array[Byte](1)): Unit
    // same key with all bands intact: a pure cache hit returns without
    // re-landing
    val land2 = graft.queries.StreamingQueries.landBands(df, 2, "spec_land_cache", "sfA")
    assert(land2 == land && canary.isFile, "same key must be a no-op cache hit")
    // delete one band, then call again with the SAME key: the marker alone
    // is not enough — a hit must see all n band files, so the gap forces a
    // full re-land instead of silently streaming a partial feed
    assert(b1.delete())
    val land3 = graft.queries.StreamingQueries.landBands(df, 2, "spec_land_cache", "sfA")
    assert(land3 == land && b1.isFile, "missing band on a marker hit must re-land")
    assert(!canary.exists, "a re-land must start from a wiped dir")
    // a different key (sf switch) must invalidate a STRUCTURALLY COMPLETE
    // landing: all bands intact, canary planted — only the key comparison
    // can force this re-land, so a key-check regression fails here
    java.nio.file.Files.write(canary.toPath, Array[Byte](1)): Unit
    graft.queries.StreamingQueries.landBands(df, 2, "spec_land_cache", "sfB"): Unit
    assert(b1.isFile && !canary.exists, "key change must wipe and re-land all bands")
  }

  test("a feed lands exactly its band count of files, and its rows total the input — time and hash banding") {
    import graft.queries.StreamingQueries.Feed
    val rows = (s: org.apache.spark.sql.SparkSession, _: String) =>
      s.range(0, 500).select(col("id"), expr("timestamp_millis(1700000000000 + id * 7919)").as("ts"))
    for (feed <- Seq(Feed.byTime("spec_feed_time", 3)(rows),
                     Feed.byHash("spec_feed_hash", 5, col("id"))(rows))) {
      val landed = feed.land(spark, "spec")
      val bands = new java.io.File(landed.dir).listFiles()
        .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
      assert(bands == (0 until feed.bands).map(i => f"b$i%04d.parquet"),
        s"${feed.name}: expected ${feed.bands} band files, got $bands")
      assert(landed.schema == rows(spark, "spec").schema, s"${feed.name}: source schema")
      assert(spark.read.parquet(landed.dir).count() == 500L,
        s"${feed.name}: the landed bands must hold every input row exactly once")
      assert(spark.read.parquet(landed.dir).distinct().count() == 500L, feed.name)
    }
  }

  test("a landed feed lands again without building its rows: no Spark job, the same schema") {
    import graft.queries.StreamingQueries.Feed
    // Tables.events infers the parquet schema, a job, whenever its rows are built
    val feed = Feed.byHash("spec_feed_jobs", 2, col("event_id"))(Tables.events)
    val first = feed.land(spark, sf)
    assert(first.schema == Tables.events(spark, sf).schema)
    val again = SparkEvents.during(spark)(feed.land(spark, sf))
    assert(again.jobs == 0, s"${again.jobs} jobs on a cache hit")
    assert(feed.land(spark, sf) == first)
  }

  test("a landing marker without a schema re-lands") {
    import spark.implicits._
    val df = Seq((1L, 0), (2L, 1)).toDF("v", "__band")
    val land = graft.queries.StreamingQueries.landBands(df, 2, "spec_land_noschema", "sfA")
    val marker = new java.io.File(land, "_LANDED")
    val canary = new java.io.File(land, "_canary")
    java.nio.file.Files.write(canary.toPath, Array[Byte](1)): Unit
    java.nio.file.Files.write(marker.toPath, "sfA|2".getBytes("UTF-8")): Unit
    graft.queries.StreamingQueries.landBands(df, 2, "spec_land_noschema", "sfA"): Unit
    assert(!canary.exists, "a marker without a schema line must re-land")
    assert(graft.queries.StreamingQueries.landedSchema(land) == df.drop("__band").schema)
  }
}
