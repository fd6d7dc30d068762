package graft

import org.apache.spark.sql.functions.{col, lit, raise_error}
import org.apache.spark.storage.StorageLevel

class HarnessSpec extends SparkTestBase {

  test("evaluate returns the count and xor-hash of every row") {
    val build = () => Tables.orders(spark, sf)
    val e = Harness.evaluate(spark)(build())
    val want = build().selectExpr("count(*) AS n", "bit_xor(xxhash64(struct(*))) AS h").head()
    assert(e.rows == want.getLong(0) && e.rows > 0)
    assert(e.hash == want.getLong(1))
    assert(e.seconds > 0)
  }

  test("evaluate forces every output column: a throwing projection throws") {
    val df = Tables.region(spark, sf).withColumn("boom", raise_error(lit("planted")))
    assert(df.count() == 5) // a count alone prunes the throwing column
    val e = intercept[Exception](Harness.evaluate(spark)(df))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted")))
  }

  test("a gate below its volume precondition throws UnmetPrecondition naming the reason") {
    Seq("q_agg_spill" -> "distinct user_id keys", "q_parquet_page_skip" -> "event_id parity")
      .foreach { case (name, why) =>
        val e = intercept[graft.queries.UnmetPrecondition](SparkEntry.queries(name)(spark, sf))
        assert(e.gate == name && e.reason.contains(why), e.getMessage)
      }
  }

  test("the queries that register temp views leave the session's temp views as they were") {
    def tempViews: Set[String] =
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = tempViews
    for (name <- Seq("q_view_model", "q_variant_explode", "q_sql_functions")) {
      assert(Harness.evaluate(spark)(SparkEntry.queries(name)(spark, sf)).rows > 0, name)
      assert(tempViews == before, s"$name left temp views behind: ${tempViews -- before}")
    }
  }

  test("a query build leaves the caller's cache alone") {
    // builds that persist and count intermediates of their own while
    // building; ann_lsh_topk covers lshTopkSpark, which ann_recall shares
    val builds = Seq(
      "dedup_minhash_lsh", "dedup_containment", "dedup_clusters", "dedup_clusters_star",
      "dedup_simhash", "dedup_incremental", "dedup_minhash_recall", "dedup_ngram_jaccard",
      "q_pagerank", "q_triangles", "q_bfs_levels",
      "q_curation_pipeline", "q_decontaminate", "q_pack_sequences", "q_export_pipeline",
      "q_tokenized_shards", "q_weighted_sample",
      "q_kmv_overlap", "text_repeated_spans",
      "ann_lsh_topk", "ann_ivf_topk", "ann_quantized_recall", "ann_pq_recall",
      "ann_ivfpq_recall", "dedup_embedding_cosine", "dedup_semantic")
    val sentinel = spark.range(1000).persist()
    sentinel.count()
    try builds.foreach { name =>
      SparkEntry.queries(name)(spark, sf)
      assert(sentinel.storageLevel != StorageLevel.NONE, s"building $name dropped the caller's cache")
    } finally sentinel.unpersist()
  }

  test("subset ignores blank entries, and an all-blank value means no filter") {
    assert(Harness.subset(Some("a, ,b"), "spec").contains(Set("a", "b")))
    assert(Harness.subset(Some(""), "spec").isEmpty)
    assert(Harness.subset(Some(" , "), "spec").isEmpty)
    assert(Harness.subset(None, "spec").isEmpty)
  }

  test("synthesize writes all 10 tables: disjoint replicas, joins ×2, dims verbatim") {
    val out = java.nio.file.Files.createTempDirectory("synth_corpus_").toString
    try {
      tools.SynthCorpus.synthesize(spark, sf, 2, out)
      Tables.names.foreach(t => assert(new java.io.File(s"$out/$t.parquet").isDirectory, t))

      // replica 0 holds exactly the base keys, and replica 1 as many keys,
      // every one above the base maximum
      def keys(dir: String, t: String, k: String): Seq[Long] =
        Tables.load(spark, dir, t).select(col(k).cast("long")).collect().map(_.getLong(0)).toSeq.sorted
      Seq("orders" -> "o_orderkey", "orders" -> "o_custkey", "customer" -> "c_custkey",
          "lineitem" -> "l_orderkey", "lineitem" -> "l_suppkey", "lineitem" -> "l_partkey",
          "supplier" -> "s_suppkey", "part" -> "p_partkey", "documents" -> "doc_id",
          "embeddings" -> "vec_id", "events" -> "event_id", "events" -> "user_id").foreach { case (t, k) =>
        val base = keys(sf, t, k)
        val (rep0, rep1) = keys(out, t, k).partition(_ <= base.last)
        assert(rep0 == base && rep1.size == base.size, s"$t.$k")
      }

      def joins(dir: String): (Long, Long) = {
        val (l, o, c) = (Tables.lineitem(spark, dir), Tables.orders(spark, dir), Tables.customer(spark, dir))
        (l.join(o, col("l_orderkey") === col("o_orderkey")).count(),
         o.join(c, col("o_custkey") === col("c_custkey")).count())
      }
      val (lineOrders, orderCustomers) = joins(sf)
      assert(lineOrders > 0 && orderCustomers > 0)
      assert(joins(out) == ((2 * lineOrders, 2 * orderCustomers)))

      Seq("region", "nation").foreach { t =>
        val (base, synth) = (Tables.load(spark, sf, t), Tables.load(spark, out, t))
        assert(synth.exceptAll(base).isEmpty && base.exceptAll(synth).isEmpty, t)
      }
    } finally queries.StorageQueries.deleteRecursively(new java.io.File(out))
  }
}
