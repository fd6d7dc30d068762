package graft

import graft.operators.SkewJoin
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the scale properties the engine promises
  * (pushdown, pruning, broadcast, top-k without global sort, bucketed
  * co-location) hold in the plans Catalyst actually produces — not just in
  * intent. These are the checks a 100 TB deployment lives or dies by.
  */
class PlanSpec extends SparkTestBase {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q3: dimension filter pushes down to the customer parquet scan") {
    val plan = planOf("q3_shipping_priority")
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)") && plan.contains("PushedFilters: [IsNotNull(c_mktsegment)"),
           s"expected c_mktsegment pushdown in:\n$plan")
  }

  test("q1: the date-range superset filter reaches the lineitem parquet scan") {
    val plan = planOf("q1_pricing_summary")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate,"),
           s"expected l_shipdate range pushdown in:\n$plan")
  }

  test("column pruning: text queries read only the needed columns") {
    val plan = planOf("text_token_counts")
    // the documents scan must read doc_id + text, not lang/source/n_chars
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
           s"expected pruned ReadSchema in:\n$plan")
  }

  test("q5: both dimension joins broadcast (no shuffle of the fact side)") {
    val plan = planOf("q5_customer_by_region")
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 2, s"expected 2 broadcast joins in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "dimension chain must not sort-merge")
  }

  test("global top-k plans as TakeOrderedAndProject, not a full sort") {
    val plan = planOf("q_topk_orders")
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator in:\n$plan")
  }

  test("anti and semi joins plan as their dedicated join types") {
    assert(planOf("q_anti_join").contains("LeftAnti"))
    assert(planOf("q_semi_join").contains("LeftSemi"))
  }

  test("ngram-jaccard verification joins hashed sets, not string shingle arrays") {
    val plan = planOf("dedup_ngram_jaccard")
    assert(plan.contains("hs_a") && plan.contains("hs_b"),
           s"verification must join back the hashed shingle sets:\n$plan")
    assert(!plan.contains("sh_a") && !plan.contains("sh_b"),
           "no string shingle array may flow through the candidate verification join")
  }

  test("brute-force top-k aggregates map-side (no global per-query window sort)") {
    val plan = planOf("ann_bruteforce_topk")
    assert(!plan.contains("Window"),
           s"per-query top-k must not be a global window over the scored set:\n$plan")
    assert(plan.contains("Aggregate"), s"expected partial top-k aggregation in:\n$plan")
  }

  test("pack_sequences windows partition by (source, bucket), never source alone") {
    val plan = SparkEntry.queries("q_pack_sequences")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val specs = "windowspecdefinition\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"expected window specs in:\n$plan")
    val sourceOnly = specs.filter(s => s.contains("source") && !s.contains("bucket"))
    assert(sourceOnly.isEmpty,
           s"found serial per-source window spec(s): $sourceOnly")
  }

  test("weighted sample's data-sized window partitions by bucket") {
    val plan = SparkEntry.queries("q_weighted_sample")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val specs = "windowspecdefinition\\(([^)]*)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"expected window specs in:\n$plan")
    // the per-document cumulative window must be bucket-partitioned; the
    // only unpartitioned window is over the n/4096 bucket TOTALS
    val docSized = specs.filter(s => s.contains("doc_id") && !s.contains("bucket"))
    assert(docSized.isEmpty,
           s"found serial document-sized window spec(s): $docSized")
  }

  test("quality filter is map-only: no exchange in the plan") {
    val plan = planOf("text_quality_filter")
    assert(!plan.contains("Exchange"),
           s"a per-document filter must not shuffle:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
           s"expected pruned ReadSchema in:\n$plan")
  }

  test("media codec pipelines are map-only and prune to doc_id") {
    // the Media contract: payload passes through at most one map stage and
    // NEVER a shuffle — at 100 TB the payload column dominates storage, so
    // any Exchange here ships it across the cluster
    for (name <- Seq("media_bmp_decode", "media_ppm_decode", "media_decode", "media_resize")) {
      val plan = planOf(name)
      assert(!plan.contains("Exchange"),
             s"$name must not shuffle payload bytes:\n$plan")
      assert(plan.contains("ReadSchema: struct<doc_id:bigint>"),
             s"$name synthesizes from ids only — expected doc_id-pruned scan in:\n$plan")
    }
  }

  test("decontamination broadcasts the eval shingle index (no sort-merge join)") {
    val df = SparkEntry.queries("q_decontaminate")(spark, sf)
    df.collect() // AQE: final adaptive plan only exists after execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
           s"eval index must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
           "the train corpus must stream map-side against the broadcast index")
  }

  test("chunking is map-only: no exchange, pruned scan") {
    val plan = planOf("q_chunk_documents")
    assert(!plan.contains("Exchange"),
           s"window enumeration + slicing must not shuffle:\n$plan")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
           s"expected pruned ReadSchema in:\n$plan")
  }

  test("stratified sample aggregates map-side (no whole-stratum window sort)") {
    val plan = planOf("q_stratified_sample")
    assert(!plan.contains("Window"),
           s"per-stratum sampling must not window-sort every stratum:\n$plan")
    assert(plan.contains("Aggregate"),
           s"expected bounded partial aggregation in:\n$plan")
  }

  test("merge/upsert plans as one equi-key full-outer join, never a nested loop") {
    val plan = planOf("q_merge_upsert")
    assert(plan.contains("FullOuter"), s"expected full outer join in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
           s"merge must join on the key, not a nested loop:\n$plan")
  }

  test("approx quantiles aggregate via the sketch (no cartesian, no full sort)") {
    val plan = planOf("q_approx_quantiles")
    assert(plan.contains("ObjectHashAggregate"),
           s"approx_percentile should plan as an object hash aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"),
           s"stats join-backs must stay equi-joins:\n$plan")
  }

  test("semantic-dedup blocked pair path is equi-join only (no nested loop)") {
    // the scale route for embedding dedup must never degenerate into the
    // O(n²) join shape it exists to replace: candidates come from an
    // equi-join on cid, verification from equi-joins on vec ids
    val (_, _, scored) = graft.queries.SimilarityQueries.semanticStages(spark, sf)
    val plan = scored.queryExecution.executedPlan.toString
    // the cached cell-assignment build DOES contain a corpus ×
    // 16-broadcast-centroid nested loop by design (the same assignment
    // ann_ivf_topk probes); the assertion targets the OUTER pair pipeline,
    // which renders before the first InMemoryRelation in the plan's DFS
    // text (candidate cid-join + two id verification joins)
    val outer = plan.split("InMemoryRelation", 2)(0)
    assert(!outer.contains("BroadcastNestedLoopJoin") && !outer.contains("CartesianProduct"),
           s"blocked pair path must stay equi-join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
           s"nothing in the pipeline may plan a true cartesian:\n$plan")
  }

  test("pair-stage dot product stays inside whole-stage codegen") {
    // DotProduct implements doGenCode: the scored pair stage must compile
    // into a codegen span, not fall back to interpreted eval mid-pipeline
    val df = SparkEntry.queries("dedup_embedding_cosine")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"pair stage lost whole-stage codegen:\n$plan")
  }

  test("hot paths stay inside whole-stage codegen") {
    // the custom signature expressions and money arithmetic must not break
    // codegen. Under AQE the codegen stages only appear in the FINAL
    // adaptive plan, so execute first, then inspect.
    for (q <- Seq("q1_pricing_summary", "text_token_counts", "dedup_exact")) {
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      // codegen stages render as the "*(n)" prefix in the final plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*("),
             s"$q lost whole-stage codegen:\n$plan")
    }
  }

  test("salted join equals the plain join and scatters the hot key") {
    val ev = Tables.events(spark, sf).select("user_id", "event_type", "value")
    val dim = ev.select(col("user_id")).distinct()
      .withColumn("segment", concat(lit("seg"), pmod(col("user_id"), lit(5))))
    val plain = ev.join(dim, "user_id")
    val salted = SkewJoin.saltedJoin(ev, dim, "user_id", salt = 8)
    assert(salted.count() == plain.count())
    assert(salted.select("user_id", "event_type", "value", "segment")
      .except(plain.select("user_id", "event_type", "value", "segment")).isEmpty)
    // the physical plan shuffles on (key, salt), not the bare key
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), "salt column must participate in the join")
  }

  test("bucketed tables co-locate the join: no exchange on the bucketed key") {
    val db = "plan_spec_db"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"USE $db")
    try {
      spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val o = Tables.orders(spark, sf).select("o_orderkey", "o_custkey", "o_totalprice")
      o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_bucketed")
      val l = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      l.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_bucketed")
      val joined = spark.table("lineitem_bucketed")
        .join(spark.table("orders_bucketed"),
              col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
             s"bucketed-bucketed equi-join must not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("USE default")
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("co-occurrence pairs generate map-side: no self-join, vocab broadcasts") {
    val plan = planOf("text_cooccurrence_pmi")
    assert(!plan.contains("SortMergeJoin"),
           s"pair generation must not sort-merge-join the token table with itself:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
           s"vocab (membership + 2 df lookups) and ndocs must broadcast:\n$plan")
  }

  test("bloom pruning: position-set probes broadcast as semi-joins") {
    val plan = planOf("q_bloom_semi_join")
    // the two bit-position membership probes must be broadcast semi-joins
    // (the ≤8 KiB filter ships to the probe side, never the reverse)
    assert("BroadcastHashJoin .*LeftSemi".r.findAllIn(plan).size >= 2,
           s"expected ≥2 broadcast LEFT SEMI probes against the position set:\n$plan")
    assert(!plan.contains("SortMergeJoin") || plan.contains("LeftSemi"),
           s"the pruned probe must not full-shuffle against the filter:\n$plan")
  }

  test("hybrid search: both arms end in bounded top-k operators") {
    val plan = planOf("q_hybrid_search")
    assert(plan.contains("TakeOrderedAndProject"),
           s"lexical arm must top-k via TakeOrderedAndProject, not a full sort:\n$plan")
    assert(plan.contains("TopKByScore") || plan.contains("ObjectHashAggregate"),
           s"vector arm must use the bounded map-side top-k aggregator:\n$plan")
  }

  test("scd2 intervals reuse one user_id exchange for all three windows") {
    val plan = planOf("q_scd2_intervals")
    // lag-mark, running-sum version and lead(valid_to) all partition by
    // user_id; Catalyst must not re-shuffle between them. Expected
    // exchanges: one hashpartitioning(user_id) for the window chain plus
    // the (user_id, version) aggregate that rides the same partitioning.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected ≤2 hash exchanges, got $exchanges in:\n$plan")
  }

  test("substring cuts: window table ships hash-only columns through the dup join") {
    val plan = planOf("q_substring_cuts")
    // the join-back of windows to the cross-doc dup set must not carry
    // token arrays or shingle strings — only (doc_id, n_tokens, p0, wh)
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
           s"dup join must be an equi-join on the window hash:\n$plan")
    // the interval merge is the single per-doc window sort
    val winSorts = "Window ".r.findAllIn(plan).size
    assert(winSorts <= 2, s"expected the one interval-merge window (got $winSorts):\n$plan")
  }

  test("bmp decode is map-only: no exchange in the plan") {
    val plan = planOf("media_bmp_decode")
    assert(!plan.contains("Exchange"),
           s"encode->decode round-trip must not shuffle:\n$plan")
  }

  test("wide minhash banding joins ids+keys only (no signature arrays through the band join)") {
    val plan = planOf("dedup_minhash_lsh")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
           s"band collision must be an equi-join:\n$plan")
    // signatures join back by id AFTER the distinct pair stage: the band
    // self-join inputs are the posexploded (doc_id, band, bkey) projections
    assert(plan.contains("posexplode") || plan.contains("Generate"),
           s"expected the band explode feeding the self-join:\n$plan")
  }

  test("filtered ANN pushes the label predicate to the embeddings scan") {
    val plan = planOf("ann_filtered_topk")
    // pre-filtering means the metadata predicate prunes at the SOURCE: the
    // parquet reader must receive the label filter, so a selective
    // predicate cuts scan volume before any distance math
    assert(plan.contains("PushedFilters: [IsNotNull(label), EqualTo(label,3)")
             || plan.contains("EqualTo(label,3)"),
           s"expected label=3 pushed to the embeddings scan:\n$plan")
  }

  test("incremental dedup joins new-batch bands against old-corpus bands as an equi-join") {
    val plan = planOf("dedup_incremental")
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
           s"band collision must be an equi-join:\n$plan")
  }

  test("partitioned sink re-read prunes partitions by source") {
    val plan = planOf("q_partitioned_sink")
    // the two-source filter must bind to the partition column: directories
    // outside src0/src3 are never listed or scanned
    assert(plan.contains("PartitionFilters") && plan.contains("src0"),
           s"expected source partition pruning in:\n$plan")
  }

  test("z-order layout prunes both dims; single-dim sort fails the off-dim") {
    val rows = SparkEntry.queries("q_zorder_layout")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
             (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val (xsB, xsHit, _, _) = rows(("custkey_sort", "x"))
    val (_, ysHit, ysRows, ysMatch) = rows(("custkey_sort", "y"))
    val (_, zxHit, _, _) = rows(("zorder", "x"))
    val (zyB, zyHit, _, _) = rows(("zorder", "y"))
    // the sort layout prunes its own key hard but reads EVERY bucket for
    // the off-dim predicate; zorder stays partial on both dims
    assert(xsHit <= xsB / 4, s"custkey_sort x: $xsHit of $xsB")
    assert(ysHit == rows(("custkey_sort", "y"))._1, "custkey_sort y hits all buckets")
    assert(zxHit < zyB / 2 && zyHit < zyB / 2, s"zorder partial on both: $zxHit/$zyHit of $zyB")
    assert(ysRows >= ysMatch, "zone-map hits are a superset of matches")
  }

  test("cdc snapshot partial-aggregates the argmax before the exchange") {
    val plan = planOf("q_cdc_snapshot")
    // map-side combine: only one row per (key, map partition) crosses the
    // shuffle — the whole scale argument of the agg-vs-window choice
    assert(plan.contains("partial_max(struct"),
           s"expected map-side partial argmax in:\n$plan")
  }

  test("quality top-p windows run over the bucket histogram, never doc rows") {
    val plan = SparkEntry.queries("q_quality_topp")(spark, sf)
      .queryExecution.optimizedPlan.toString
    // every Window in the plan must sit above the (source, bucket)
    // aggregate: its ordering is the bucket column, and no window spec
    // orders by a doc-grain column
    val specs = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(specs.nonEmpty && specs.forall(_.contains("bucket")),
           s"window not at histogram grain:\n$plan")
  }

  test("oov rate membership-tests through a broadcast join") {
    val plan = planOf("text_oov_rate")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"),
           s"expected broadcast left join in:\n$plan")
  }

  test("bfs levels expand the frontier with anti-joins, not subtract scans") {
    // the query's returned plan is an eager localCheckpoint (so its cached
    // generations can be released — a Scan ExistingRDD), so the pin targets
    // the hop building block the loop actually iterates
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val frontier = Seq(1L).toDF("node")
    val visited = Seq((1L, 0L)).toDF("node", "level")
    val plan = graft.queries.GraphQueries
      .bfsExpand(edges, frontier, visited, 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected left-anti visited check in:\n$plan")
  }

  test("rebalance write splits the hot key and balances the written files") {
    // the gate's own requires prove the plan shape (REBALANCE exchange,
    // skewed AQEShuffleRead, ≤25% max partition, one file per partition);
    // here we additionally pin the DATA contract at spec scale: the
    // round-tripped per-key aggregate equals a direct aggregate of the
    // source, and the planted hot key really is the majority of rows
    val out = SparkEntry.queries("q_rebalance_write")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = graft.Tables.events(spark, sf)
      .select(when(pmod(col("user_id"), lit(4)) < 2, lit(1L))
                .otherwise(pmod(col("user_id"), lit(16))).as("wkey"),
              graft.functions.Money.cents(col("value")).as("cents"))
      .groupBy(col("wkey"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).cast("long").as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == direct, "round-tripped aggregate must equal the source aggregate")
    val total = out.values.map(_._1).sum
    assert(out(1L)._1 * 2 >= total, "the planted hot key must hold ~half the rows")
  }

  test("nested pruning keeps only the named struct leaves and matches the flat source") {
    // the gate requires pin the plan (pruned ReadSchema, nested
    // PushedFilters); here we pin the DATA contract: nesting the columns
    // must be a pure layout change
    val out = SparkEntry.queries("q_nested_pruning")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = graft.Tables.documents(spark, sf)
      .where(col("n_chars") > 120)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == direct, "nested-scan aggregate must equal the flat-source aggregate")
    assert(out.nonEmpty && out.values.map(_._1).sum > 0, "filter must keep rows at spec scale")
  }

  test("shardBy survives the repartition-elision trap that collapses fixed shard layouts") {
    // regression for the round-17 find: with shuffle.partitions == n (this
    // suite's session: 8), a groupBy on the same key leaves the child
    // already hash-partitioned (key, 8), the planner absorbs a plain
    // repartition(8, key), and AQE then coalesces the surviving
    // ENSURE_REQUIREMENTS shuffle of this tiny dataset to ONE task —
    // silently collapsing an 8-shard export. shardBy's derived key makes
    // the exchange unabsorbable and non-coalescible.
    import spark.implicits._
    val grouped = (1L to 400L).toDF("doc_id")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    def writerParts(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.mapPartitions(it =>
        Iterator.single(org.apache.spark.TaskContext.getPartitionId())
      ).collect().toSeq.distinct.sorted
    val naive = writerParts(grouped.repartition(8, col("doc_id")))
    val stable = writerParts(graft.queries.StorageQueries.shardBy(grouped, 8, col("doc_id")))
    assert(stable == (0 until 8), s"shardBy must hold 8 writer partitions, saw $stable")
    // pin that the TRAP is real in this session shape — if a Spark upgrade
    // stops eliding the naive form, this assert flags the helper for review
    assert(naive.size < 8,
      s"plain repartition(8, key) no longer collapses (saw ${naive.size} parts) — " +
      "re-evaluate whether shardBy is still needed")
  }
}
