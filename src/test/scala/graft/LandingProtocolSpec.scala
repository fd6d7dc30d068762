package graft

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.queries.{DedupQueries, Landing, StorageQueries, StreamingQueries}
import org.apache.spark.sql.functions.col

/** The land-once protocol ([[graft.queries.Landing]]) and its users: a
  * reuse serves exactly what the computation landed; a deleted or PARTIALLY
  * deleted landing (some part files removed, at least one left), a marker
  * for another key, or a touched source lands again, never serving a stale
  * or partial table; a hit starts no Spark job; and concurrent landers of
  * one landing write it once.
  */
class LandingProtocolSpec extends SparkTestBase {

  private def parts(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).toSeq

  test("a partially deleted signature landing recomputes instead of serving a subset") {
    // first call lands the table and writes the marker
    val full = DedupQueries.landedSignatures(spark, sf, recompute = false)
    val fullCount = full.count()
    assert(fullCount > 0)
    // a warm second call serves the landing (same count)
    assert(DedupQueries.landedSignatures(spark, sf, recompute = false).count() == fullCount)
    // sabotage: delete SOME part files but leave at least one — a bare
    // existence check would serve the remainder as complete
    val tgt = DedupQueries.signatureLanding(spark, sf).dir
    val landed = parts(tgt)
    assume(landed.length >= 2,
      s"landing wrote ${landed.length} part file(s) — cannot stage a partial deletion")
    landed.drop(1).foreach(f => assert(f.delete(), s"could not delete $f"))
    val partialCount = spark.read.parquet(tgt).count()
    assert(partialCount < fullCount, "deletion did not actually shrink the landing")
    // the protocol must notice the missing files and recompute the FULL table
    val recovered = DedupQueries.landedSignatures(spark, sf, recompute = false)
    assert(recovered.count() == fullCount,
      s"reuse served $partialCount of $fullCount rows — the partial landing " +
      "was treated as complete")
    // and the re-landed marker is consistent again: another reuse is warm + full
    assert(DedupQueries.landedSignatures(spark, sf, recompute = false).count() == fullCount)
  }

  /** Runs `land` on two threads that are both in flight before either can
    * finish, and returns what each returned.
    */
  private def race[A](land: => A): Seq[A] = {
    val started = new CyclicBarrier(2)
    val done = new CountDownLatch(2)
    val results = new ConcurrentLinkedQueue[A]()
    val errors = new ConcurrentLinkedQueue[Throwable]()
    (1 to 2).foreach { _ =>
      new Thread(() => {
        try { started.await(30, TimeUnit.SECONDS); results.add(land): Unit }
        catch { case t: Throwable => errors.add(t): Unit }
        finally done.countDown()
      }).start()
    }
    assert(done.await(120, TimeUnit.SECONDS), "landers did not finish")
    assert(errors.isEmpty, s"a lander failed: ${Option(errors.peek()).map(_.toString)}")
    results.asScala.toSeq
  }

  test("two concurrent landers of the same name: one computes, one reuses") {
    // the landing's JVM lock serializes check + write; the second lander
    // in must observe the first's marker and read the landing without
    // recomputing — for a parquet landing and for the band landings
    val computes = new AtomicInteger(0)
    val landing = Landing(spark, "landing_race_spec", Nil, s"race-key-${System.nanoTime()}")
    def land(): Long = landing.rows(spark, forceRecompute = false) {
      computes.incrementAndGet()
      spark.range(1, 101).toDF("v")
    }.count()
    assert(race(land()) == Seq(100L, 100L))
    assert(computes.get() == 1,
      s"${computes.get()} computes for one key — the second lander did not reuse")
    // the landing moved into place and its marker landed by rename: no
    // temp dir or temp marker is left behind
    assert(!new File(landing.dir + "_tmp").exists, "temp dir left behind")
    assert(new File(landing.dir).list().toSeq.filter(_.startsWith("_LANDED")) == Seq("_LANDED"),
      "marker temp file left behind — the rename did not happen")
    // a third call is a pure reuse
    assert(land() == 100L && computes.get() == 1)

    val builds = new AtomicInteger(0)
    val sfKey = s"race-sf-${System.nanoTime()}"
    val bands = race(StreamingQueries.landBands(spark, {
      builds.incrementAndGet()
      spark.range(0, 40).select(col("id"), (col("id") % 2).cast("int").as("__band"))
    }, 2, "landing_race_bands_spec", sfKey))
    assert(builds.get() == 1, s"${builds.get()} band landings for one key")
    assert(bands.distinct.size == 1 && spark.read.parquet(bands.head.dir).count() == 40L)
  }

  test("a landing key embedding a newline lands, hits, and is not mis-parsed") {
    // the marker records the key's hash, so no key can shift its line
    // format; and the key's parts stay apart, so "a\nb" is not ("a", "b")
    val writes = new AtomicInteger(0)
    def land(params: String*): Landing.Landed =
      Landing(spark, "landing_newline_spec", Nil, params: _*).parquet {
        writes.incrementAndGet()
        spark.range(3).toDF("v")
      }
    val joined = land("a\nb")
    assert(land("a\nb") == joined && writes.get() == 1, "a newline key did not hit")
    assert(land("a", "b").dir != joined.dir && writes.get() == 2,
      "a key split at its newline collided with the joined key")
  }

  test("a stale marker key recomputes") {
    DedupQueries.landedSignatures(spark, sf, recompute = false).count()
    val marker = new File(DedupQueries.signatureLanding(spark, sf).dir, "_LANDED")
    val recorded = new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
    java.nio.file.Files.write(marker.toPath,
      ("some-other-key" +: recorded.split("\n").drop(1)).mkString("\n").getBytes("UTF-8"))
    val relanded = SparkEvents.during(spark)(
      assert(DedupQueries.landedSignatures(spark, sf, recompute = false).count() > 0))
    assert(relanded.jobs > 0, "a marker for another key was served")
    // the recompute re-landed under the CURRENT key
    val rewritten = new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
    assert(rewritten.split("\n").head == recorded.split("\n").head, "marker was not refreshed")
  }

  test("cluster-landing reuse returns the exact computed assignment") {
    val computed = DedupQueries.clusterLabels(spark, sf, reuseLanding = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the compute call above landed the assignment; a reuse call must now
    // serve the identical map from the landing
    val reused = DedupQueries.clusterLabels(spark, sf, reuseLanding = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(computed.nonEmpty)
    assert(reused == computed, "landed assignment drifted from the computed one")
  }

  test("signature-landing reuse returns the exact computed signature table") {
    val computed = DedupQueries.landedSignatures(spark, sf, recompute = true)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // the compute call above landed the table; a reuse call must now serve
    // the identical signatures from the landing
    val reused = DedupQueries.landedSignatures(spark, sf, recompute = false)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(computed.nonEmpty)
    assert(reused == computed, "landed signatures drifted from the computed ones")
  }

  test("a deleted landing behind an intact marker recomputes instead of failing") {
    // seed the landing + marker
    DedupQueries.landedSignatures(spark, sf, recompute = true).count()
    val tgt = new File(DedupQueries.signatureLanding(spark, sf).dir)
    val marker = new File(tgt, "_LANDED")
    assert(marker.isFile, "landing marker missing after a landing write")
    parts(tgt.getPath).foreach(f => assert(f.delete()))
    // the stale-marker path must fall through to recompute + re-land, not
    // throw an AnalysisException on the vanished parquet
    val n = DedupQueries.landedSignatures(spark, sf, recompute = false).count()
    assert(n > 0)
    assert(parts(tgt.getPath).nonEmpty, "recovery path did not re-land the signatures")
    // same contract for the cluster landing, with the whole dir gone
    DedupQueries.clusterLabels(spark, sf, reuseLanding = false).count()
    StorageQueries.deleteRecursively(new File(DedupQueries.clusterLanding(spark, sf).dir))
    val m = DedupQueries.clusterLabels(spark, sf, reuseLanding = true).count()
    assert(m > 0)
  }

  test("a warm hit starts no Spark job: signatures and a former per-query landing") {
    val sigs = DedupQueries.landedSignatures(spark, sf, recompute = false)
    val n = sigs.count()
    val warm = SparkEvents.during(spark)(DedupQueries.landedSignatures(spark, sf, recompute = false))
    assert(warm.jobs == 0, s"${warm.jobs} jobs on a signature landing hit")
    val fact = StorageQueries.rebalanceFact(spark, sf)
    val again = SparkEvents.during(spark)(StorageQueries.rebalanceFact(spark, sf).read(spark))
    assert(again.jobs == 0, s"${again.jobs} jobs on a rebalance fact landing hit")
    assert(StorageQueries.rebalanceFact(spark, sf) == fact)
    // the hits read back exactly what landed
    assert(DedupQueries.landedSignatures(spark, sf, recompute = false).count() == n)
    assert(fact.read(spark).count() == Tables.events(spark, sf).count())
  }

  test("a touched source lands again: a former per-query landing and a feed") {
    val dir = java.nio.file.Files.createTempDirectory("spec_landing_src_")
    try {
      val events = dir.resolve("events.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"), events)
      val feed = StreamingQueries.Feed.byHash("spec_feed_touch", 2, col("event_id"))(Tables.events)
      val fact = StorageQueries.rebalanceFact(spark, dir.toString)
      val landed = feed.land(spark, dir.toString)
      assert(events.toFile.setLastModified(events.toFile.lastModified() + 60000L))
      // the same path, rewritten in place: each landing writes afresh into
      // a new dir, which a key of the path alone would never do
      val fresh = SparkEvents.during(spark) {
        val f = StorageQueries.rebalanceFact(spark, dir.toString)
        assert(f.dir != fact.dir, "the rebalance fact was served from the stale landing")
        val l = feed.land(spark, dir.toString)
        assert(l.dir != landed.dir, "the feed was served from the stale landing")
        assert(f.read(spark).count() == fact.read(spark).count())
        assert(spark.read.parquet(l.dir).count() == spark.read.parquet(landed.dir).count())
      }
      assert(fresh.jobs > 0)
    } finally StorageQueries.deleteRecursively(dir.toFile)
  }
}
