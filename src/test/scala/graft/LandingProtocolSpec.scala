package graft

import graft.queries.{DedupQueries, StorageQueries}

/** The land-once marker protocol of the dedup landings (signatures and
  * cluster labels): a reuse serves exactly what the computation landed, and
  * a deleted or PARTIALLY deleted landing (some part files removed, at
  * least one left) must recompute, never be served as the full table. The
  * marker records key + row count; reuse re-checks the landed count against
  * it (parquet-footer-only), so any of {stale key, deleted landing, partial
  * landing, row-count drift} falls back to a fresh computation.
  */
class LandingProtocolSpec extends SparkTestBase {

  test("a partially deleted signature landing recomputes instead of serving a subset") {
    // first call lands the table and writes the key+count marker
    val full = DedupQueries.landedSignatures(spark, sf, recompute = false)
    val fullCount = full.count()
    assert(fullCount > 0)
    // a warm second call serves the landing (same count)
    assert(DedupQueries.landedSignatures(spark, sf, recompute = false).count() == fullCount)
    // sabotage: delete SOME part files but leave at least one — the
    // pre-r16 existence check would have served the remainder as complete
    val tgt = new java.io.File(
      StorageQueries.target("dedup_signatures_land"))
    val parts = Option(tgt.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    assume(parts.length >= 2,
      s"landing wrote ${parts.length} part file(s) — cannot stage a partial deletion")
    parts.drop(1).foreach(f => assert(f.delete(), s"could not delete $f"))
    val partialCount = spark.read.parquet(tgt.getAbsolutePath).count()
    assert(partialCount < fullCount, "deletion did not actually shrink the landing")
    // the protocol must notice the count mismatch and recompute the FULL table
    val recovered = DedupQueries.landedSignatures(spark, sf, recompute = false)
    assert(recovered.count() == fullCount,
      s"reuse served $partialCount of $fullCount rows — the partial landing " +
      "was treated as complete")
    // and the re-landed marker is consistent again: another reuse is warm + full
    assert(DedupQueries.landedSignatures(spark, sf, recompute = false).count() == fullCount)
  }

  test("two concurrent landers of the same name: one computes, one reuses") {
    // the per-name JVM lock serializes compute+land; the second lander in
    // must observe the first's marker and serve the landing without
    // recomputing — and never interleave its overwrite with the first's
    // part-file writes
    import java.util.concurrent.{CountDownLatch, CyclicBarrier, TimeUnit}
    val computes = new java.util.concurrent.atomic.AtomicInteger(0)
    val name = "landing_race_spec"
    val key = s"race-key-${System.nanoTime()}"
    def land(): Long = DedupQueries.landedOrCompute(spark, name, key, forceRecompute = false) {
      computes.incrementAndGet()
      import spark.implicits._
      (1L to 100L).toDF("v")
    }.count()
    // both threads are in flight before either can finish arranging the
    // landing: the barrier trips only once both have started
    val started = new CyclicBarrier(2)
    val done = new CountDownLatch(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (1 to 2).foreach { _ =>
      new Thread(() => {
        try { started.await(30, TimeUnit.SECONDS); results.add(land()): Unit }
        catch { case t: Throwable => errors.add(t): Unit }
        finally done.countDown()
      }).start()
    }
    assert(done.await(120, TimeUnit.SECONDS), "landers did not finish")
    assert(errors.isEmpty, s"a lander failed: ${Option(errors.peek()).map(_.toString)}")
    assert(results.size == 2 && results.iterator().next() == 100L &&
           { val it = results.iterator(); it.next(); it.next() == 100L })
    assert(computes.get() == 1,
      s"${computes.get()} computes for one key — the second lander did not reuse")
    // the marker landed atomically: parseable, and no temp remnant beside it
    val markerDir = new java.io.File(
      StorageQueries.target(name + "_MARKER")).getParentFile
    assert(!Option(markerDir.listFiles()).getOrElse(Array.empty)
      .exists(_.getName.startsWith(name + "_MARKER.tmp-")),
      "marker temp file left behind — the rename did not happen")
    // a cold third call is a pure reuse
    assert(land() == 100L && computes.get() == 1)
  }

  test("a landing key embedding a newline is rejected, not mis-parsed") {
    val ex = intercept[IllegalArgumentException] {
      DedupQueries.landedOrCompute(spark, "landing_badkey_spec", "a\nb",
        forceRecompute = false) { spark.range(1).toDF("v") }
    }
    assert(ex.getMessage.contains("newline"))
  }

  test("a stale marker key recomputes") {
    DedupQueries.landedSignatures(spark, sf, recompute = false).count()
    val marker = new java.io.File(
      StorageQueries.target("dedup_signatures_land_MARKER"))
    java.nio.file.Files.write(marker.toPath, "some-other-key\n42".getBytes("UTF-8"))
    val n = DedupQueries.landedSignatures(spark, sf, recompute = false).count()
    assert(n > 0)
    // the recompute re-landed under the CURRENT key
    val rewritten = new String(
      java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
    assert(!rewritten.startsWith("some-other-key"), "marker was not refreshed")
    assert(rewritten.endsWith(n.toString), s"marker count drifted: $rewritten vs $n")
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
    val tgt = new java.io.File(StorageQueries.target("dedup_signatures_land"))
    val marker = new java.io.File(StorageQueries.target("dedup_signatures_land_MARKER"))
    assert(marker.isFile, "landing marker missing after a landing write")
    StorageQueries.deleteRecursively(tgt)
    assert(!tgt.exists)
    // the stale-marker path must fall through to recompute + re-land, not
    // throw an AnalysisException on the vanished parquet
    val n = DedupQueries.landedSignatures(spark, sf, recompute = false).count()
    assert(n > 0)
    assert(tgt.exists, "recovery path did not re-land the signatures")
    // same contract for the cluster landing
    DedupQueries.clusterLabels(spark, sf, reuseLanding = false).count()
    val ctgt = new java.io.File(StorageQueries.target("dedup_clusters_land"))
    StorageQueries.deleteRecursively(ctgt)
    val m = DedupQueries.clusterLabels(spark, sf, reuseLanding = true).count()
    assert(m > 0)
  }
}
