package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct}

/** The query-run steps the dev mains share: Bench and tools.ScaleStress time
  * queries with [[evaluate]], and Bench, Verify and tools.ScaleStress read
  * their `*_ONLY` subset filters with [[subset]].
  */
private[graft] object Harness {

  /** One forced evaluation: wall seconds of build + evaluation, the row
    * count, and the xor of the per-row hashes (0, the xor identity, for an
    * empty result).
    */
  final case class Evaluation(seconds: Double, rows: Long, hash: Long)

  /** Clear cache → build → `count(*)` and `bit_xor(xxhash64(struct(*)))`
    * over ALL output columns → clear cache. The hash is what forces every
    * projection: a bare `.count()` lets Spark prune each one the count does
    * not need, timing a different (cheaper) plan. The cache is cleared after
    * a throw too, so a failed query's persisted intermediates cannot bleed
    * into the next one.
    */
  def evaluate(spark: SparkSession)(build: => DataFrame): Evaluation = {
    spark.catalog.clearCache()
    try {
      val t0 = System.nanoTime()
      val df = build
      val r = df.select(struct(df.columns.map(col).toIndexedSeq: _*).as("s"))
        .selectExpr("count(*) AS n", "bit_xor(xxhash64(s)) AS h")
        .head()
      Evaluation((System.nanoTime() - t0) / 1e9, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    } finally spark.catalog.clearCache()
  }

  /** A dev-only `*_ONLY` subset filter: the comma-separated names in `value`,
    * or None (no filter) when it is unset. Blank entries are ignored, so an
    * empty or all-blank value cannot silently filter out everything, and an
    * active filter is announced on stderr under `[tag]` so a partial run is
    * visible.
    */
  def subset(value: Option[String], tag: String): Option[Set[String]] = {
    val only = value.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet).filter(_.nonEmpty)
    only.foreach { f =>
      System.err.println(s"[$tag] subset filter is set — PARTIAL run over: ${f.toSeq.sorted.mkString(", ")}")
    }
    only
  }
}

/** Benchmark main: per-query seconds at SPARK_GRAFT_SF_DIR.
  *
  * Evidence is STREAMED, not end-emitted: after EVERY completed query-rep the
  * harness prints (and flushes) one stdout JSON line in the exact same schema
  * as the final summary ("metric":"total", best-so-far per-query seconds, full
  * per-rep arrays, "partial":true). A run killed at ANY point — the round-5
  * driver run hit its time budget (`rc: 124`) and the end-only emission turned
  * "slow run" into "no data" — still leaves the last line as a complete
  * per-query partial artifact for whatever finished. The final emission is
  * TWO lines: a per-query detail line ("partial":false, mins only), then a
  * compact total-only line (same "metric"/"value"/"unit" keys plus
  * "n_queries", NO per-query map) sized well under the driver's ~2 KB tail
  * capture — the per-query map outgrew that capture in rounds 6 and 7 and
  * left BENCH_r0{6,7}.json with parsed:null despite rc 0.
  *
  * Methodology (each query, each repetition):
  *   - caches cleared BEFORE (queries persist intermediates internally) and
  *     AFTER (so query N's leftover cache/GC pressure can't bleed into
  *     query N+1) — the r1/r2 numbers swung up to 60× on identical code
  *     from exactly that interference;
  *   - forced evaluation is [[Harness.evaluate]]: `count(*)` and
  *     `bit_xor(xxhash64(struct(*)))` over ALL output columns;
  *   - up to `reps` repetitions (default 3; heavyweight composite queries are
  *     capped at 2 — their rep-to-rep variance is dominated by fixed setup
  *     such as streaming state-store init and CC sweep scheduling, so the
  *     third rep buys noise, not signal), reporting the MIN over completed
  *     reps PLUS the full per-rep array, so a noisy host is visible in the
  *     artifact itself;
  *   - repetitions run round-robin ACROSS queries (rep 1 of every query,
  *     then rep 2 of every query, …) so one contention window degrades at
  *     most one rep of each query instead of every rep of a few;
  *   - a soft wall-clock budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default 1500):
  *     rep 1 of every query ALWAYS runs, so each query gets at least one
  *     observation; reps ≥ 2 are skipped once the budget is exhausted. The
  *     run then finishes cleanly inside the driver's window instead of being
  *     killed by it ("budget_exhausted":true flags the trim in the artifact);
  *   - a rep that throws scores -1 and its query is named with the cause
  *     in the final detail line's "failed" map (and tools/bench_last.json);
  *     after the final emission the run exits 1 if any query failed;
  *   - each query's first successful (rows, hash) is kept, and a later rep
  *     that differs names the query in the final detail line's "drift"
  *     list (report-only: the exit code does not change).
  *
  * Re-check one suspicious query without a full run:
  *   SPARK_GRAFT_BENCH_ONLY=q_price_moments sbt "runMain graft.Bench"
  */
object Bench {
  /** Composite queries whose cost is dominated by fixed per-rep setup
    * (streaming state-store spin-up, iterative CC sweeps, multi-retrieval
    * recall grading) — capped at 2 reps; a third identical setup cycle adds
    * wall-clock without sharpening the min.
    */
  private val HeavyComposites: Set[String] = Set(
    "q_curation_pipeline", "dedup_clusters", "q_streaming_sessionize",
    "ann_recall", "ann_quantized_recall", "ann_ivf_topk", "q_approx_quantiles",
    "dedup_fuzzy_recall", "dedup_semantic", "dedup_minhash_recall",
    "q_streaming_click_attribution", "q_streaming_left_outer",
    "q_streaming_sessionize_timeout", "q_streaming_sessionize_tws",
    "q_streaming_restart_tws", "q_triangles",
    "ann_ivfpq_recall", "q_streaming_restart_outer",
    // round-12 setup-dominated gates (state-store lifecycles, ANALYZE
    // sweeps, forced-spill landings) — same cap criterion as the rest
    "q_streaming_late_drop", "q_streaming_join_late_drop", "q_window_spill",
    "q_cbo_broadcast", "q_cbo_join_reorder", "q_aqe_broadcast_convert",
    // round-13 setup-dominated gates: two-lifecycle restarts (changelog,
    // liststate, mapstate) and the double-stateful pipeline
    "q_streaming_restart_changelog", "q_streaming_cdc_mapstate",
    "q_streaming_attribution_liststate", "q_streaming_join_then_window",
    "q_streaming_dedup_horizon",
    // round-14 setup-dominated gates: the TTL gate is three Trigger.Once
    // lifecycles around a mandatory 7.2 s TTL sleep; the redelivery gate
    // is two lifecycles with a planted failure between them
    "q_streaming_cdc_ttl", "q_streaming_foreach_retry",
    // round-15 two-lifecycle gates (explicit deploy/restart boundaries) —
    // same fixed-setup-dominated criterion
    "q_state_time_travel", "q_streaming_state_evolution")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "1500").toDouble
    val spark = GraftSession.local(GraftSession.cpus)
    // warm up codegen/JIT and the parquet reader path once so the first
    // timed query doesn't absorb session startup
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.range(10000L)
      .selectExpr("md5(regexp_replace(lower(concat('x ', id)), '\\\\s+', ' ')) AS h")
      .selectExpr("count(distinct h)").collect()
    Tables.load(spark, sfDir, "region").count()

    // NOTE on a tempting non-fix (measured, round 11): inserting
    // `System.gc()` before each rep's timer — to keep the previous rep's
    // collection pause out of the next measurement — made the whole bench
    // SLOWER and NOISIER, not cleaner: 249.5 s vs 194.6 s total on the
    // same build at sf0.1. The forced full GC isn't timed, but its
    // aftermath is: evacuated regions, cold TLABs, and the reference-
    // queue-driven ContextCleaner churn it triggers all land inside the
    // following timed region. Per-rep mins absorbed ~+1 s nearly
    // uniformly, including queries whose code hadn't changed in rounds.
    // Driver-vs-builder bench spread is host contention; the `n_noisy`
    // flag documents it, and that is the honest treatment.
    // name → cause of the last failed rep, for the final artifact
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // name → (rows, hash) of its first successful rep; a later rep that
    // differs puts the query in `drift`
    val firstResult = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val drift = scala.collection.mutable.Set.empty[String]
    def once(name: String, fn: (SparkSession, String) => DataFrame): Double =
      try {
        val e = Harness.evaluate(spark)(fn(spark, sfDir))
        val result = (e.rows, e.hash)
        if (firstResult.getOrElseUpdate(name, result) != result) drift += name
        e.seconds
      } catch { case e: Throwable =>
        System.err.println(s"[bench] query failed: ${e.getMessage}")
        failures(name) = e.toString
        -1.0
      }

    // dev-only subset filter (comma-separated names); driver leaves it unset
    val only = Harness.subset(sys.env.get("SPARK_GRAFT_BENCH_ONLY"), "bench")
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    def repsFor(name: String): Int =
      if (HeavyComposites.contains(name)) math.min(reps, 2) else reps

    val wall0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - wall0) / 1e9

    // rep-major order: one host-contention window hits at most one rep of
    // each query, so the per-query min stays a clean observation
    val times = scala.collection.mutable.LinkedHashMap(
      named.map { case (name, _) => name -> Vector.empty[Double] }: _*)
    var budgetExhausted = false

    // One stdout JSON line from whatever has completed so far. Only queries
    // with ≥1 completed rep appear, so a killed run's last line is a valid
    // per-query partial artifact. Partial (streamed) lines carry per-query
    // mins AND the full per-rep arrays. The FINAL emission is TWO lines:
    // a penultimate detail line (per-query mins, no rep arrays) and a LAST
    // line that is tiny — total/n_queries/sf only, ~150 bytes. The driver's
    // tail capture is ~2 KB; rounds 6 AND 7 both ended with a single final
    // line carrying the per-query map (~2.9 KB at 97 queries), so the tail
    // started mid-line and BENCH_r0{6,7}.json parsed as null despite rc 0.
    // Whatever the capture window, a sub-200-byte last line survives intact.
    def emit(partial: Boolean): Unit = {
      val done = named.map(_._1).filter(n => times(n).nonEmpty)
      val results = done.map { name =>
        val ok = times(name).filter(_ >= 0)
        name -> (if (ok.nonEmpty) ok.min else -1.0)
      }
      val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val repArrays =
        if (!partial) ""
        else "\"reps\":" + done.map { name =>
          s"\"" + name + "\":" + times(name).mkString("[", ",", "]")
        }.mkString("{", ",", "}") + ","
      // host-contention flag: a query whose completed reps spread past 3×
      // (max/min) was visibly disturbed — the min is still the best
      // observation, but the artifact should say the host was noisy rather
      // than leave the next reader to re-derive it from the rep arrays
      // (driver-vs-builder runs of r9 differed 217 vs 173 s from exactly
      // this). Only queries with ≥2 completed reps can be judged.
      val noisy = done.filter { name =>
        val ok = times(name).filter(_ >= 0)
        ok.size >= 2 && ok.min > 0 && ok.max / ok.min > 3.0
      }
      val noisyList =
        if (partial) ""
        else "\"noisy\":" + noisy.map("\"" + _ + "\"").mkString("[", ",", "]") + ","
      val driftList =
        if (partial) ""
        else "\"drift\":" + done.filter(drift).map("\"" + _ + "\"").mkString("[", ",", "]") + ","
      val failedMap = if (partial) "" else "\"failed\":" + Verify.failuresJson(failures) + ","
      // failures keep their -1 marker per query but must not shrink the total
      val total = results.map(_._2).filter(_ >= 0).sum
      val detailLine =
        s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,$repArrays$noisyList$driftList$failedMap"sf":"$sfDir","partial":$partial,"elapsed_sec":${"%.1f".format(elapsed)},"budget_exhausted":$budgetExhausted}"""
      println(detailLine)
      if (!partial) {
        // the driver-parseable artifact: keep this line SMALL (no per-query
        // map) so any tail capture contains it complete
        println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_noisy":${noisy.size},"sf":"$sfDir","partial":false,"elapsed_sec":${"%.1f".format(elapsed)},"budget_exhausted":$budgetExhausted}""")
        // The round artifact (BENCH_r{N}.json) is captured from the stdout
        // TAIL and has truncated the per-query map whenever the suite
        // outgrew the capture window (r6, r7, r14). Land the COMPLETE
        // detail line in a file too, so the per-query map is always
        // available verbatim regardless of how stdout was captured.
        try {
          val p = java.nio.file.Paths.get("tools/bench_last.json")
          if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.write(p,
            (detailLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] could not write tools/bench_last.json: ${e.getMessage}")
        }
      }
      System.out.flush()
    }

    for (r <- 1 to reps; (name, fn) <- named) {
      if (r <= repsFor(name)) {
        // rep 1 always runs (every query gets one observation); later reps
        // are sacrificed first when the wall-clock budget runs out
        if (r == 1 || elapsed < budgetSec) {
          times(name) = times(name) :+ once(name, fn)
          System.err.println(
            f"[bench] $name rep $r/${repsFor(name)}: ${times(name).last}%.2fs (cumulative ${elapsed}%.0fs of budget ${budgetSec}%.0fs)")
          emit(partial = true)
        } else if (!budgetExhausted) {
          budgetExhausted = true
          System.err.println(
            f"[bench] budget ${budgetSec}%.0fs exhausted at ${elapsed}%.0fs — skipping remaining reps (rep-1 coverage is complete)")
        }
      }
    }
    emit(partial = false)
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
