package graft.tools

import graft.{GraftSession, Harness, SparkEntry, Verify}
import graft.queries.UnmetPrecondition
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scale-stress rig: measures how the dedup/ANN/text paths' wall time grows
  * when the input corpus grows `factor`×, turning the "survives a scale-up"
  * plan arguments into a measurement. The scaled corpus is
  * [[SynthCorpus.synthesize]]'s (see there why it is synthesized, not
  * duplicated), written to `workDir`; each query is timed with
  * [[graft.Harness.evaluate]], the bench's forced evaluation.
  *
  * Pass criterion per query: wall(scaled) ≤ wall(base) × factor × Slack.
  * Sub-linear results are common (fixed session/scan overhead dominates at
  * the base size); super-linear beyond the slack means a quadratic term
  * crept into a path that claims to be linear. A query that throws is named
  * with its cause in the final line's "failed" map; the remaining queries
  * are still graded, and the run then exits 1. A query whose input is below
  * its declared volume precondition ([[graft.queries.UnmetPrecondition]])
  * is named with the reason in the "skipped" map instead, is not graded,
  * and does not fail the run.
  *
  * Usage: runMain graft.tools.ScaleStress [baseDir] [factor] [workDir]
  * (defaults: /root/testdata/sf0.1, 10, /tmp/graft_scale_stress)
  */
object ScaleStress {

  /** Queries timed by the rig — only paths that claim linear scaling. The
    * O(n²)-by-design `dedup_embedding_cosine` is deliberately absent, and
    * `dedup_ngram_jaccard` is graded separately (below): its jaccard-0.3
    * threshold forces r=2 banding, whose CANDIDATE volume grows ~n²·E[j²]
    * (measured 94.7× pairs at ×10 docs) — a parameter-choice property of
    * low-threshold LSH, so the engine claim there is flat per-candidate
    * cost, not input linearity.
    */
  // dedup_minhash_recall is deliberately NOT a wall-ratio target: its
  // truth arm is the exact-recall containment pass over the minhash
  // family's 3-shingles, whose candidate volume the round-7 ×10 run
  // measured growing ~118× at 10× docs (n²·P(shared 3-gram) — unrelated
  // natural-language documents share 3-grams at a rate that rises with
  // corpus size). That arm is the GRADER, quadratic by construction like
  // dedup_fuzzy_recall's plain join and ann_recall's brute force; the
  // production path it grades (dedup_minhash_lsh) is a Target.
  val Targets: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "dedup_clusters", "dedup_containment", "dedup_incremental",
    "ann_bruteforce_topk", "ann_lsh_topk", "ann_quantized_recall", "ann_filtered_topk",
    "text_token_counts", "text_tfidf", "text_quality_filter", "text_bigram_lm",
    "text_bpe_merge", "q_substring_cuts", "media_bmp_decode", "q_curation_pipeline",
    "q_decontaminate", "q_chunk_documents", "q_stratified_sample",
    // graph + span surfaces (round-8): q_pagerank/q_triangles read the
    // synthesized orders/lineitem replicas (disjoint key-shifted copies —
    // edges, wedges, and triangles all scale exactly linearly by
    // construction, so a super-linear wall ratio is an engine defect, not
    // a data artifact); text_repeated_spans reads documents like the rest
    "q_pagerank", "q_triangles", "text_repeated_spans",
    // round-8 additions: KMV's per-group work is one distinct + a bounded
    // min-k agg (the sketches themselves are O(k) however large the
    // corpus); weighted sampling is the two-level prefix sum + a map;
    // BPE encode's merge rounds run at the vocabulary grain (constant
    // across replicas — the token shuffle permutes words, never invents
    // them) so only the distinct and the encode join scale; zorder is two
    // hash-aggs over the key-shifted orders replicas
    "q_kmv_overlap", "q_weighted_sample", "text_bpe_encode", "q_zorder_layout",
    // the two-phase distributed-quantile machinery (one round in
    // q_order_stats over the orders replicas, two rounds in
    // q_mad_outliers over the events replicas): histogram hash-agg +
    // tiny prefix sums + bounded refinement — each stage linear
    "q_order_stats", "q_mad_outliers",
    // round-8 batch 2: quality top-p and shard balancing claim metadata-
    // grain windows only (histogram + prefix offsets), so their doc-grain
    // work is map + hash-agg — linear; the compaction planner windows a
    // fixed 256-row inventory; the two format round-trips are map-only
    // write+read legs over documents/orders replicas
    "q_quality_topp", "q_shard_balance", "q_compaction_bins",
    "q_csv_roundtrip", "q_jsonl_roundtrip",
    // CDC snapshot: one map + one map-side-combined argmax agg over
    // the user-shifted events replicas — linear by construction
    "q_cdc_snapshot",
    // OOV rate: token explode + vocab-grain hash-agg + broadcast
    // membership join — linear in tokens
    "text_oov_rate",
    // round-8 batch 3: WAV codec paths are map-only per doc (like
    // media_bmp_decode); schema evolution is two map-only write legs +
    // one merged read; BFS levels scale linearly on the disjoint
    // key-shifted graph replicas (per-replica structure identical, and seed
    // count and every level's node count scale exactly ×factor because
    // ckShift is rounded to a multiple of 97 — see SynthCorpus.synthesize)
    "media_wav_decode", "media_wav_downsample", "q_schema_evolution",
    "q_bfs_levels",
    // incremental materialization: two rollup scans + an aggregate-grain
    // merge — linear in events
    "q_incremental_model",
    // round-9: the last two ungraded decades. The contract validator is
    // per-rule hash-aggs + the suite's only left-anti relationship joins
    // (customer replicas shift by the same ckShift as orders, so the FK
    // structure — and the violation count — is identical per replica);
    // the view model is a view-inlined filter + hash-agg over orders
    "q_validate_contracts", "q_view_model",
    // round-9 additions: PNG decode is map-only per doc like the other
    // codecs (the DEFLATE work is per-payload); the streaming queries are
    // gradable since the harness feeds them from landed files — the six
    // below cover the distinct state shapes (incremental file agg, keyed
    // session state, stream-stream join state, O(k) sketch state, per-key
    // LWW state, per-batch broadcast). Their per-rep cost carries a fixed
    // state-store/checkpoint setup term, so sub-linear ratios are expected;
    // the grade exists to catch a state term that scales with CORPUS size
    // instead of live-key/window count.
    "media_png_decode", "q_streaming_file_source", "q_streaming_sessionize",
    "q_streaming_click_attribution", "q_streaming_kmv", "q_streaming_cdc",
    "q_streaming_enrich",
    // the RocksDB state-backend leg: same LWW fold, off-heap LSM state —
    // the backend whose point IS that state cost stays flat as keys grow
    "q_streaming_cdc_rocksdb",
    // bucketed co-located join: write cost is two bucketed table writes
    // (linear), join cost is per-bucket merge with no shuffle at all —
    // the in-query require() re-proves the no-Exchange plan at every scale
    "q_bucketed_join",
    // built-in session windows, batch and state-store-backed streaming:
    // one user_id shuffle, sessions merge in the aggregation buffer
    "q_session_window", "q_streaming_session_window",
    // observe(): metrics accumulate on the pipeline's own scan — the cost
    // IS the pipeline rollup, which is map + one hash-agg, linear
    "q_observed_metrics",
    // DPP: the partitioned landing write is linear; the pruned join reads
    // a CONSTANT 5 of 30 day partitions at any factor
    "q_dynamic_pruning",
    // round-10 additions: the restart grade is the windowed file-sink
    // pipeline run as two lifecycles (each linear; the second resumes from
    // checkpointed state whose size tracks OPEN windows, not corpus);
    // the AQE skew grade is one shuffle join whose split keeps the planted
    // hot partition parallel — the mechanism under test IS what keeps it
    // linear; GIF decode is map-only per doc like the other codecs; the
    // strict-parse gate is a map + two counts over events
    "q_streaming_restart", "q_skew_join_aqe", "media_gif_decode",
    "udf_parse_strict",
    // custom-state restart: GroupState recovery cost tracks OPEN sessions
    // (live users), which scale with the key space, not raw event volume
    "q_streaming_restart_sessions",
    // foreachBatch idempotent upsert: per-batch work is one hash-agg argmax
    // over that batch plus a keyed overwrite — stateless, linear
    "q_streaming_foreach_upsert",
    // cleanSource=archive: the archive move is per-FILE metadata work
    // (4 renames at any factor); the rollup is one complete-mode hash-agg
    "q_streaming_source_archive",
    // round-11 additions: the left-outer interval join carries the same
    // watermark-bounded symmetric state as the inner leg plus an
    // eviction-time null scan — state tracks the lookback window, not the
    // corpus; the event-time-timeout sessionizer's timeout sweep is
    // per-OPEN-session work (live keys, not raw volume); the global sort
    // is one range exchange + per-partition sort, n log(n/p) per task
    "q_streaming_left_outer", "q_streaming_sessionize_timeout",
    "q_global_sort",
    // state-v2 sessionizer: same per-open-session timer sweep as the
    // GroupState event-time leg, through RocksDB (off-heap state); its
    // restart grade's recovery cost tracks OPEN sessions + armed timers
    // (live keys), not raw event volume
    "q_streaming_sessionize_tws", "q_streaming_restart_tws",
    // join restart: recovery restores the two symmetric join buffers,
    // whose size the watermark+interval bound to the lookback window
    "q_streaming_restart_join",
    // Y4M video decode+frame-sample is map-only per doc like the other
    // codecs; the TFRecord export is one explicit repartition + per-task
    // shard streaming, and its read leg is per-shard re-framing — both
    // legs linear in corpus bytes
    // WAV pitch is the same map-only per-doc shape as the other codec
    // paths, with an O(n·lag-window) integer autocorrelation per doc
    "media_y4m_frames", "q_tfrecord_shards", "media_wav_pitch",
    // full-outer join: the same watermark-bounded symmetric state as the
    // inner/left-outer legs — click-side state lives one lookback longer
    // before its null evicts, but the horizon is still the WINDOW, never
    // the corpus
    "q_streaming_full_outer",
    // PQ-ADC: codebook training is M×K'-grain, encoding and retrieval are
    // single scans (codes vs broadcast LUTs); the brute-force grading arm
    // is the fixed tiny query set × corpus scan every ANN grade carries
    "ann_pq_recall",
    // IVF-PQ + re-rank: cell assignment and residual encoding are single
    // scans, ADC touches only the probed cells' code rows (a FRACTION of
    // the flat-PQ scan), and the exact re-rank is a bounded
    // queries×shortlist corpus re-read — constant rows at any factor
    "ann_ivfpq_recall",
    // rebalance-on-write: the landing write and the REBALANCE shuffle are
    // both linear; the mechanism under test (runtime skew split at mapper
    // grain) IS what keeps the hot write key parallel at every factor
    "q_rebalance_write",
    // nested pruning: the landing write is linear in corpus bytes; the
    // graded scan reads two struct leaves + one hash-agg — the pruned
    // ReadSchema is what keeps the scan linear in METADATA bytes, not
    // payload bytes, as the corpus grows
    "q_nested_pruning",
    // corrupt-record ingest: three map-only text scans (one per parser
    // mode), parse work linear in bytes; the quarantine bucket is one
    // conditional in the same hash-agg, never a separate pass
    "q_jsonl_corrupt",
    // ORC pushdown: one columnar write + one pruned, predicate-pushed
    // scan + hash-agg — the two graded properties ARE what keeps the
    // read linear in the projected columns' bytes
    "q_orc_pushdown",
    // dim refresh across restart: two STATELESS enrich lifecycles (no
    // state store); each re-reads the dim once and scans its bands once —
    // the per-lifecycle setup is the constant term the restart grades
    // all carry
    "q_streaming_enrich_refresh",
    // exchange reuse: the mechanism under test dedups the diamond to ONE
    // scan + ONE user_id shuffle — the in-query requires re-prove the
    // single-scan plan at every factor
    "q_exchange_reuse",
    // round-12 additions. late-drop: the same windowed agg as the window-
    // counts gate plus a map-side band split; the drop itself is a filter,
    // and the buffer-grain accounting bound holds under any partitioning
    "q_streaming_late_drop",
    // join late-drop: the interval join with one band filtered at the
    // operator input — drop accounting is row-grain and the state bound
    // is the lookback window, as in the other attribution legs
    "q_streaming_join_late_drop",
    // outer-join restart: the left-outer legs' watermark-bounded state
    // across two lifecycles — state horizon is the lookback window plus
    // unproven-absence purchases, never the corpus
    "q_streaming_restart_outer",
    // forced-spill window: n/5 rows per buffer at every factor — the
    // spill path (sorter insert + disk write) is linear in buffered rows
    "q_window_spill",
    // CBO gate: two dim landings + ANALYZE (one scan each) + two joins;
    // the threshold derives from measured estimates, so the two plan
    // legs separate at every factor
    "q_cbo_broadcast",
    // AQE join conversion: one landing + one join whose engineered
    // static-vs-runtime gap (no-stats wide-row estimate vs 1/125
    // surviving rows) stays two orders of magnitude at every factor
    "q_aqe_broadcast_convert",
    // CBO join reorder: three landings + ANALYZE + two 3-way joins; the
    // reordered leg's intermediate is |orders|/125 at every factor and
    // the structural requires re-prove the rewrite per run
    "q_cbo_join_reorder",
    // scan split: one landing + one split-scan rollup; thresholds derive
    // from the measured file bytes, so both plan legs hold at any factor
    "q_scan_split",
    // round-13 additions. agg spill: both legs are one aggregation over
    // events (object-hash + sort-based); the fallback and force-spill
    // thresholds derive from measured key/row counts, so both gated
    // behaviors re-fire — and stay bounded at ~8 spills/task — at any
    // factor
    "q_agg_spill",
    // changelog restart: the CDC LWW per-lifecycle work is linear and the
    // changelog replay on resume tracks LIVE KEYS (users), not raw volume
    "q_streaming_restart_changelog",
    // MapState CDC: shard-grain state keys with per-user map entries —
    // per-entry cost is flat, entry count scales with live keys
    "q_streaming_cdc_mapstate",
    // ListState attribution: per-user click buffers are bounded by the
    // lookback horizon under in-order arrival, never the corpus
    "q_streaming_attribution_liststate",
    // write retry: q_tfrecord_shards' linear export/read plus exactly one
    // planted task retry (one re-run partition at any factor)
    "q_write_retry",
    // chained stateful operators: the interval join's state is bounded by
    // the lookback window and the window agg's by OPEN day-windows — both
    // horizons, never the corpus; per-batch work linear
    "q_streaming_join_then_window",
    // dedup horizon: one dedup pass whose state is bounded BY CONSTRUCTION
    // at distinct-keys-within-horizon; the planted rows are constant
    "q_streaming_dedup_horizon",
    // runtime bloom filter: the bloom build is one agg over the selective
    // side, the probe a map-side filter on the fact scan — the mechanism
    // under test IS what keeps the shuffle linear in SURVIVING rows
    "q_runtime_filter",
    // batch-seeded state: the bootstrap is one batch fold over history
    // (linear) and the stream folds only the live half; seed size tracks
    // live keys, exactly the state it replaces
    "q_streaming_cdc_bootstrap",
    // round-14 additions. variant ingestion: parse_json + variant_get are
    // map-side expressions feeding one hash-agg — linear in events bytes,
    // and the parse-once plan pin holds at every factor
    "q_variant_props",
    // dynamic-gap session windows: same one-shuffle merge-in-buffer shape
    // as q_session_window; the gap is a map-side expression
    "q_session_window_dynamic",
    // induced foreachBatch redelivery: the upsert leg's linear per-batch
    // argmax + keyed overwrite, plus exactly one planted batch failure and
    // one extra lifecycle at any factor
    "q_streaming_foreach_retry",
    // variant storage round-trip: one parse-at-ingest write + one re-read
    // with typed extraction + hash-agg — linear in events bytes both legs
    "q_variant_roundtrip",
    // variant corrupt-input: the strict leg is 7 planted rows; the lenient
    // leg is one try_parse scan + the same hash-agg — linear
    "q_variant_corrupt",
    // alternating-star CC: each round is two join+agg passes over the edge
    // list (linear in edges) and the round count is O(log n) REGARDLESS of
    // component diameter — the property that makes it the scale path; on
    // the stress corpus components replicate, so edges ×factor, rounds flat
    "dedup_clusters_star",
    // streaming observe: CollectMetrics rides the passthrough pipeline's
    // own rows — the audit is free at any factor, the sink write linear
    "q_streaming_observe",
    // partition pinning: the CDC LWW restart shape (linear per lifecycle)
    // plus two progress-metric requires — the pinned state partition
    // count is a CONSTANT of the checkpoint at any corpus size
    "q_streaming_partitions_pinned",
    // latestFirst catch-up ordering: the same linear CDC fold; the knob
    // changes only the file SERVE order, which is metadata-grain
    "q_streaming_latest_first",
    // variant lateral explode: Generate over the parsed variant is
    // map-side row expansion (rows × keys-per-row) feeding one hash-agg
    // at key grain — linear in exploded rows
    "q_variant_explode",
    // round-15 additions. Avro OCF round-trip: same two linear legs as
    // q_tfrecord_shards — one explicit repartition + per-task shard
    // streaming out, per-shard strict re-framing back (deflate work is
    // per-byte), digest hash-agg at doc grain
    "q_avro_roundtrip",
    // parquet bloom skip: two landings (linear in events bytes); the
    // bloom probes are metadata-grain (row groups × a CONSTANT 80 keys,
    // driver-side), and the graded read is a 16-key point lookup whose
    // row-group pruning is the mechanism under test
    "q_parquet_bloom_skip",
    // variant shredding: q_variant_roundtrip's two linear legs with the
    // shredded writer (per-row shred work is per-field, flat) plus one
    // footer inspection per part file — metadata-grain
    "q_variant_shredded",
    // bounded-memory RocksDB CDC: the same linear LWW fold as the
    // rocksdb leg; the shared block-cache ceiling is a CONSTANT — the
    // grade exists to catch pressure-induced slowdowns or wrong answers
    // as state outgrows the cache
    "q_streaming_cdc_membound",
    // BPE artifact round-trip: the same vocabulary-grain merge rounds as
    // text_bpe_encode plus a constant-sized artifact land/reload and one
    // chained vocab map — the corpus-scaling terms are the word count agg
    // and the encode join, both linear
    "text_bpe_artifact",
    // incremental restatement: two day-partitioned rollup writes (history
    // once, lookback+delta once) + one partitioned re-read — all linear in
    // events; the partition count is the CONSTANT 30-day calendar
    "q_incremental_restatement",
    // Avro reader-schema resolution: the same two linear shard legs as
    // q_avro_roundtrip; resolution planning is schema-grain (constant)
    "q_avro_evolution",
    // page-level column-index skip: two landings (the sorted one pays a
    // per-task n log n sort — the layout cost the gate is ABOUT), probes
    // are metadata-grain (pages × a constant 16 keys, driver-side), and
    // the graded read is the same constant point lookup
    "q_parquet_page_skip",
    // state reader: the linear streaming agg plus ONE batch read of the
    // final state, whose row count is the KEY space (event types — a
    // constant), never the corpus
    "q_state_reader",
    // state change feed: same linear agg under changelog checkpointing;
    // the feed read returns keys × batches rows (constant × band count)
    "q_state_change_feed",
    // state time travel: two linear lifecycles + two key-space-sized
    // state reads (constant rows) and one batch rollup for the final
    // consistency require
    "q_state_time_travel",
    // state schema evolution: two linear lifecycles (V1 then V2 deploy)
    // against one checkpoint; the evolution itself is a per-state-row
    // Avro resolution — flat per key, key space constant
    "q_streaming_state_evolution",
    // round-16 additions. tf.Example shards: the q_tfrecord_shards legs
    // with per-record protobuf encode/decode — per-byte work, linear
    "q_tfexample_shards",
    // Avro logical types: the same two linear shard legs; the token
    // split is per-doc map work, the zstd codec per-byte, resolution
    // and artifact schema-grain
    "q_avro_logical",
    // join-state reader: one linear join lifecycle; the buffers are
    // DELIBERATELY unbounded here (huge watermark, so they are
    // oracle-expressible) — the two joinSide reads scale with corpus
    // rows, linearly, and the per-side rollup is one hash-agg
    "q_state_join_reader",
    // tws-variable reader: linear lifecycle + a key-space-sized state
    // read (event types — constant)
    "q_state_tws_reader",
    // the end-to-end export composite: filter map-only, clustering the
    // iterated frontier (recomputed every rep under the rig's dir
    // alternation — conservative), BPE rounds vocabulary-grain (the
    // token shuffle permutes words, never invents them), packing two
    // bounded windows, the shard legs linear in corpus bytes
    "q_export_pipeline",
    // embedding shards: the same streamed-shard legs over the rotated
    // embeddings replicas; the checksum is one posexplode + hash-agg,
    // linear in vector elements
    "q_tfexample_embeddings",
    // round-17 additions. Token-id shards: the export composite's stages
    // (clustering frontier, vocabulary-grain tokenizer + vocab window)
    // plus one token-grain explode/broadcast-join/doc-grain groupBy for
    // the flatten and the linear shard legs — linear in tokens
    "q_tokenized_shards",
    // Arrow IPC: one doc↔vector shuffle join + streamed per-task batch
    // writes + per-shard reference re-read; the vector checksum is
    // map-only higher-order functions — linear in corpus bytes
    "q_arrow_roundtrip",
    // JPEG: both gates are map-only per-doc encode→decode with constant
    // per-doc payloads (≤6 blocks / 2 blocks) — linear in document count
    "media_jpeg_coeffs",
    "media_jpeg_decode",
    // WebDataset: the tar shard legs are streamed per-task writes +
    // per-shard sequential re-reads with constant per-sample payloads —
    // linear in document count
    "q_webdataset_shards",
    // Arrow stream format: identical dataflow to q_arrow_roundtrip
    // (one doc↔vector shuffle join + streamed shards), format-only change
    "q_arrow_stream")
    // q_streaming_cdc_ttl is deliberately absent: its feed is five planted
    // rows by construction (processing-time TTL admits no deterministic
    // natural feed), so its cost is scale-invariant lifecycle setup —
    // there is nothing corpus-sized to stress.
    // NOTE for the curation/clusters stress cells: the shared cluster
    // landing is keyed by input dir, and the rig's rep-major base/scaled
    // alternation invalidates the key every switch — both queries
    // therefore recompute (and re-land) every stress rep, which is the
    // conservative direction for the ratio.

  /** Candidate-normalized targets: (query, its candidate pairs, counted as
    * the rows of one forced evaluation). Pass iff
    * scaled time-per-candidate ≤ base time-per-candidate × Slack — the
    * per-pair verification cost must not regress even when the pair volume
    * itself grows super-linearly by construction.
    */
  val CandidateNormalized: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dedup_ngram_jaccard" -> ((spark, dir) => graft.queries.DedupQueries.ngramStages(spark, dir)._2))
    // dedup_minhash_lsh sat here (candidate-normalized) in round 6 after
    // the ×100 run measured the 8×2 banding's candidate volume going
    // super-linear; the 16×8 wide banding implements the fix that log
    // prescribed, so it is back in Targets under the wall-ratio criterion.

  val Slack: Double = 1.5

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val workDir = args.lift(2).getOrElse("/tmp/graft_scale_stress")
    val spark = GraftSession.local(GraftSession.cpus, appName = "scale-stress")

    SynthCorpus.synthesize(spark, baseDir, factor, workDir)
    val nDocs = spark.read.parquet(s"$workDir/documents.parquet").count()
    val nVecs = spark.read.parquet(s"$workDir/embeddings.parquet").count()
    println(s"[scale-stress] base=$baseDir factor=$factor scaled: $nDocs docs, $nVecs vectors")

    // dev-only subset filter for re-measuring a suspicious target without
    // a full run
    val only = Harness.subset(sys.env.get("SPARK_GRAFT_STRESS_ONLY"), "scale-stress")
    val targets = Targets.filter(name => only.forall(_.contains(name)))

    // min of `reps` per (query, scale), measured REP-MAJOR across every
    // (query, side) cell — same methodology as graft.Bench: one
    // host-contention window degrades at most one rep of each cell instead
    // of every rep of one query (an un-interleaved run recorded all three
    // scaled dedup_clusters reps inside one ~90 s contention window while
    // the interleaved re-run measured 10.9 s). Raise
    // SPARK_GRAFT_STRESS_REPS on a contended host.
    val reps = sys.env.getOrElse("SPARK_GRAFT_STRESS_REPS", "2").toInt
    val normTargets = CandidateNormalized.filter { case (name, _) => only.forall(_.contains(name)) }
    val cells: Seq[(String, String)] =
      (targets ++ normTargets.map(_._1)).flatMap(n => Seq(n -> baseDir, n -> workDir))
    val times = scala.collection.mutable.LinkedHashMap(
      cells.map(c => c -> Vector.empty[Double]): _*)
    // name → cause of its first throw, or → reason of its unmet volume
    // precondition; either way the query's remaining cells are skipped and
    // it is not graded
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val skipped = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def attempt[A](name: String)(body: => A): Option[A] =
      if (failures.contains(name) || skipped.contains(name)) None
      else try Some(body) catch {
        case p: UnmetPrecondition =>
          System.err.println(s"[scale-stress] $name skipped: ${p.reason}")
          skipped(name) = p.reason
          None
        case e: Throwable =>
          System.err.println(s"[scale-stress] $name failed: ${e.getMessage}")
          failures(name) = e.toString
          None
      }
    // evidence is STREAMED (the graft.Bench lesson): one line per completed
    // (cell, rep) measurement, so a run killed mid-flight — big-factor runs
    // are long and a 2-minute GC pause once took the whole JVM down — still
    // leaves every completed observation in the log
    val wall0 = System.nanoTime()
    for (r <- 1 to reps; (name, dir) <- cells;
         t <- attempt(name)(Harness.evaluate(spark)(SparkEntry.queries(name)(spark, dir)).seconds)) {
      times((name, dir)) = times((name, dir)) :+ t
      val side = if (dir == baseDir) "base" else "scaled"
      println(f"[scale-stress] rep $r/$reps $name%-24s $side%-6s $t%8.3fs " +
        f"(elapsed ${(System.nanoTime() - wall0) / 1e9}%.0fs)")
      System.out.flush()
    }
    def best(dir: String, name: String): Double = times((name, dir)).min
    val rows = targets.filterNot(n => failures.contains(n) || skipped.contains(n)).map { name =>
      val tBase = best(baseDir, name)
      val tScaled = best(workDir, name)
      val ratio = tScaled / tBase
      val ok = ratio <= factor * Slack
      println(f"[scale-stress] $name%-24s base=$tBase%8.3fs scaled=$tScaled%8.3fs ratio=$ratio%6.2fx " +
        (if (ok) "PASS" else f"FAIL (> ${factor * Slack}%.1fx)"))
      ok -> s""""$name":{"base_sec":$tBase,"scaled_sec":$tScaled,"ratio":$ratio,"pass":$ok}"""
    }
    val normRows = normTargets.flatMap { case (name, candidates) =>
      def count(dir: String): Option[Long] = attempt(name)(Harness.evaluate(spark)(candidates(spark, dir)).rows)
      for (candBase <- count(baseDir); candScaled <- count(workDir)) yield {
        val tBase = best(baseDir, name)
        val tScaled = best(workDir, name)
        val perBase = tBase / candBase.toDouble
        val perScaled = tScaled / candScaled.toDouble
        val ok = perScaled <= perBase * Slack
        println(f"[scale-stress] $name%-24s base=$tBase%8.3fs/${candBase}%d cands " +
          f"scaled=$tScaled%8.3fs/${candScaled}%d cands " +
          f"per-cand ${perBase * 1e6}%8.2fus -> ${perScaled * 1e6}%8.2fus " +
          (if (ok) "PASS" else f"FAIL (per-cand > ${Slack}%.1fx)"))
        ok -> (s""""$name":{"base_sec":$tBase,"scaled_sec":$tScaled,"cands_base":$candBase,""" +
          s""""cands_scaled":$candScaled,"us_per_cand_base":${perBase * 1e6},""" +
          s""""us_per_cand_scaled":${perScaled * 1e6},"pass":$ok}""")
      }
    }
    skipped.foreach { case (name, reason) => println(s"[scale-stress] $name SKIPPED: $reason") }
    failures.foreach { case (name, cause) => println(s"[scale-stress] $name FAILED: $cause") }
    val allOk = failures.isEmpty && (rows ++ normRows).forall(_._1)
    println(s"""{"metric":"scale_stress","factor":$factor,"slack":$Slack,"base":"$baseDir",""" +
      s""""docs":$nDocs,"vectors":$nVecs,"pass":$allOk,""" +
      s""""queries":{${(rows ++ normRows).map(_._2).mkString(",")}},""" +
      s""""skipped":${Verify.failuresJson(skipped)},""" +
      s""""failed":${Verify.failuresJson(failures)}}""")
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
