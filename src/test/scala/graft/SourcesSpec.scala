package graft

import java.nio.file.Files

import graft.functions.Money
import graft.queries.StorageQueries
import org.apache.spark.sql.functions._

/** Source/sink round-trips: every format a pipeline consumer realistically
  * feeds the engine (parquet is the native format; csv/json/orc prove the
  * reader/writer surface). Values must survive the round-trip exactly.
  */
class SourcesSpec extends SparkTestBase {

  private lazy val base = Files.createTempDirectory("graft_sources").toString

  private def sample = Tables.orders(spark, sf)
    .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate").cast("timestamp").as("o_orderdate"))
    .limit(500)

  private def roundTrip(fmt: String, opts: Map[String, String] = Map.empty): Unit = {
    val path = s"$base/$fmt"
    val df = sample
    df.write.mode("overwrite").options(opts).format(fmt).save(path)
    val back = spark.read.options(opts).format(fmt)
      .schema(df.schema) // csv/json need the schema pinned; harmless for others
      .load(path)
    assert(back.count() == df.count(), s"$fmt rowcount")
    assert(back.except(df).isEmpty && df.except(back).isEmpty, s"$fmt values")
  }

  test("parquet round-trip is exact")(roundTrip("parquet"))
  test("orc round-trip is exact")(roundTrip("orc"))
  test("json round-trip is exact")(roundTrip("json"))
  test("csv round-trip is exact")(
    roundTrip("csv", Map("header" -> "true", "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")))

  test("partitioned parquet sink prunes partitions on read") {
    val path = s"$base/partitioned"
    Tables.orders(spark, sf)
      .withColumn("status", col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("status").parquet(path)
    val pruned = spark.read.parquet(path).where(col("status") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(status"),
           s"expected partition pruning in:\n$plan")
    assert(pruned.count() ==
      Tables.orders(spark, sf).where(col("o_orderstatus") === "F").count())
  }

  test("compaction bins honor the next-fit byte bounds") {
    val T = graft.queries.StorageQueries.CompactTargetBytes
    val bins = SparkEntry.queries("q_compaction_bins")(spark, sf).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_files"), r.getAs[Long]("bin_bytes")))
      .sortBy(_._1)
    assert(bins.length > 1, "test constant must produce multiple bins")
    assert(bins.map(_._1).toSeq == (0L until bins.length).toSeq, "bins contiguous from 0")
    val inv = Tables.documents(spark, sf)
      .groupBy((col("doc_id") % graft.queries.StorageQueries.CompactFiles).as("f"))
      .agg(sum(col("n_chars")).as("b")).collect().map(_.getAs[Long]("b"))
    assert(bins.map(_._3).sum == inv.sum, "byte conservation")
    val maxFile = inv.max
    // next-fit by byte offset: every bin spans one [kT,(k+1)T) range of the
    // cumulative axis, so its size is within one file of the target —
    // except the final partial bin, which only has the upper bound
    bins.dropRight(1).foreach { case (k, _, bytes) =>
      assert(bytes > T - maxFile && bytes < T + maxFile, s"bin $k bytes $bytes")
    }
    assert(bins.last._3 <= T + maxFile, "final bin bounded")
  }

  test("incremental model's cutoff splits the corpus: both base and delta populated") {
    // the monoid-merge law is oracle-proven; this guards the FIXTURE —
    // a cutoff outside the data range would silently degenerate the
    // incremental path into a full recompute (or an empty delta)
    val cutoff = "2024-01-16 00:00:00"
    val e = Tables.events(spark, sf)
    val base = e.where(col("ts") < lit(cutoff).cast("timestamp_ntz")).count()
    val delta = e.where(col("ts") >= lit(cutoff).cast("timestamp_ntz")).count()
    assert(base > 0 && delta > 0, s"degenerate cutoff: base=$base delta=$delta")
    // and the merged rollup genuinely equals the direct one
    val merged = SparkEntry.queries("q_incremental_model")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)")).as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(merged == direct, "incremental merge drifted from full recompute")
  }

  test("view model inlines: the filter reaches the scan through the view boundary") {
    val plan = SparkEntry.queries("q_view_model")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderstatus), Not(EqualTo(o_orderstatus,P"),
           s"view filter did not reach the parquet scan:\n$plan")
  }

  test("corrupt jsonl ingest quarantines exactly the planted lines") {
    // the gate's requires pin FAILFAST/DROPMALFORMED; here pin the
    // PERMISSIVE census row-exactly against the planting rule
    val out = SparkEntry.queries("q_jsonl_corrupt")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val docs = Tables.documents(spark, sf)
    val nCorrupt = docs.where(pmod(col("doc_id"), lit(37)) === 0).count()
    assert(nCorrupt > 0, "the planting rule must hit at spec scale")
    assert(out("__corrupt__") == ((nCorrupt, 0L, 0L)),
           s"quarantine bucket drifted: ${out("__corrupt__")} vs $nCorrupt planted")
    val good = docs.where(pmod(col("doc_id"), lit(37)) =!= 0)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(length(col("text"))).cast("long").as("s"),
           count(col("doc_id")).cast("long").as("i"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out - "__corrupt__" == good, "per-source good census drifted")
  }

  test("variant path computes the identical rollup to the string-JSON path") {
    val events = Tables.events(spark, sf)
    def rollup(kLong: org.apache.spark.sql.Column,
               kStr: org.apache.spark.sql.Column) =
      events
        .select(col("event_type"), col("value"), kLong.as("k"), kStr.as("k_str"))
        .groupBy(col("event_type"), pmod(col("k"), lit(10)).as("k_bucket"))
        .agg(count(lit(1)).as("n"),
             Money.lsum(Money.cents(col("value"))).as("sum_value_cents"),
             max(col("k")).as("max_k"),
             max(length(col("k_str"))).cast("long").as("max_k_len"))
        .orderBy(col("event_type"), col("k_bucket"))
        .collect().map(_.toSeq).toSeq
    val v = parse_json(col("props"))
    val variantPath = rollup(variant_get(v, "$.k", "long"),
                             variant_get(v, "$.k", "string"))
    val stringPath = rollup(get_json_object(col("props"), "$.k").cast("long"),
                            get_json_object(col("props"), "$.k"))
    assert(variantPath.nonEmpty)
    assert(variantPath == stringPath,
      "parse_json + variant_get must agree with the get_json_object path")
  }

  test("variant extractions share ONE parse in the optimized plan") {
    val parsed = Tables.events(spark, sf)
      .select(parse_json(col("props")).as("v"))
      .select(variant_get(col("v"), "$.k", "long").as("a"),
              variant_get(col("v"), "$.k", "string").as("b"))
    val plan = parsed.queryExecution.optimizedPlan.toString
    val needle = "VariantExpressionEvalUtils.parseJson"
    assert(plan.sliding(needle.length).count(_ == needle) == 1,
      s"CollapseProject must not duplicate the non-cheap parse:\n$plan")
  }

  test("shredded and unshredded variant storage read back identical extractions") {
    val src = Tables.events(spark, sf)
      .select(col("event_id"), parse_json(col("props")).as("v"))
    val plain = StorageQueries.target("spec_variant_plain")
    val shred = StorageQueries.target("spec_variant_shred")
    src.write.mode("overwrite").parquet(plain)
    GraftSession.withConfs(spark,
      "spark.sql.variant.writeShredding.enabled" -> "true",
      "spark.sql.variant.inferShreddingSchema" -> "true") {
      src.write.mode("overwrite").parquet(shred)
    }
    def extract(path: String) = spark.read.parquet(path)
      .select(col("event_id"), variant_get(col("v"), "$.k", "long").as("k"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    val a = extract(plain)
    val b = extract(shred)
    assert(a.nonEmpty)
    assert(a == b, "shredded storage changed extraction results")
  }
}
