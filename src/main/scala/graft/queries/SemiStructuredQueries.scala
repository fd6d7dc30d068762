package graft.queries

import graft.Tables
import graft.functions.Money
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Semi-structured / grouping-set extensions of the relational surface:
  * JSON extraction over the events `props` column and CUBE grouping sets.
  * Both are single-shuffle aggregations (Expand + hash agg for CUBE); the
  * JSON path extraction is a map-stage scalar function that pushes through
  * to the scan untouched. Output typing follows the [[Money]] contract —
  * integer cents, no DECIMAL / un-cast SUM in any output column.
  */
object SemiStructuredQueries {

  val defs: Seq[QueryDef] = Seq(

    // JSON scalar extraction + agg: parse props.k, bucket it, aggregate
    QueryDef(
      "q_json_props",
      (spark, dir) => {
        Tables.events(spark, dir)
          .select(col("event_type"),
                  get_json_object(col("props"), "$.k").cast("long").as("k"),
                  col("value"))
          .groupBy(col("event_type"), pmod(col("k"), lit(10)).as("k_bucket"))
          .agg(count(lit(1)).as("n"),
               Money.lsum(Money.cents(col("value"))).as("sum_value_cents"),
               max(col("k")).as("max_k"))
      },
      Some(s"""SELECT event_type,
             |       CAST(json_extract_string(props, '$$.k') AS BIGINT) % 10 AS k_bucket,
             |       COUNT(*) AS n,
             |       ${Money.lsumSql(Money.centsSql("value"))} AS sum_value_cents,
             |       MAX(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS max_k
             |FROM events
             |GROUP BY 1, 2""".stripMargin)
    ),

    // VARIANT ingestion (round-14, closing the r13 verdict's #2): the same
    // props rollup as q_json_props, but through Spark 4's VARIANT type —
    // `parse_json` ONCE into the binary variant encoding, then TWO
    // independent `variant_get` extractions (typed long + string) read the
    // parsed value without touching the JSON text again. q_json_props'
    // `get_json_object` re-parses the string PER EXTRACTION; at 100 TB of
    // crawl metadata with dozens of extracted fields that re-parse is the
    // dominant scan-stage cost, and variant is also the representation
    // shredding/pushdown will apply to. The parse-once property is pinned
    // IN the gate: the optimized plan must hold exactly ONE parse_json and
    // BOTH variant_gets — Catalyst's CollapseProject inlines (duplicates) a
    // projected expression into its consumers unless it is non-cheap and
    // multi-referenced, so a regression that re-parses per extraction
    // reappears as a second parse_json in the plan and fails loudly.
    QueryDef(
      "q_variant_props",
      (spark, dir) => {
        val parsed = Tables.events(spark, dir)
          .select(col("event_type"), col("value"), parse_json(col("props")).as("v"))
        val out = parsed
          .select(col("event_type"), col("value"),
                  variant_get(col("v"), "$.k", "long").as("k"),
                  variant_get(col("v"), "$.k", "string").as("k_str"))
          .groupBy(col("event_type"), pmod(col("k"), lit(10)).as("k_bucket"))
          .agg(count(lit(1)).as("n"),
               Money.lsum(Money.cents(col("value"))).as("sum_value_cents"),
               max(col("k")).as("max_k"),
               max(length(col("k_str"))).cast(LongType).as("max_k_len"))
        val plan = out.queryExecution.optimizedPlan.toString
        def occurrences(s: String, needle: String): Int =
          s.sliding(needle.length).count(_ == needle)
        // ParseJson is RuntimeReplaceable: the optimized plan renders it as
        // static_invoke(VariantExpressionEvalUtils.parseJson(...))
        val nParse = occurrences(plan, "VariantExpressionEvalUtils.parseJson")
        val nGet = occurrences(plan, "variant_get")
        require(nParse == 1,
          s"variant gate: expected exactly ONE parseJson in the optimized " +
          s"plan (parse once, extract many); found $nParse — the extractions " +
          "are re-parsing the JSON text per field")
        require(nGet >= 2,
          s"variant gate: expected both variant_get extractions in the " +
          s"optimized plan; found $nGet")
        out
      },
      Some(s"""SELECT event_type,
             |       CAST(json_extract_string(props, '$$.k') AS BIGINT) % 10 AS k_bucket,
             |       COUNT(*) AS n,
             |       ${Money.lsumSql(Money.centsSql("value"))} AS sum_value_cents,
             |       MAX(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS max_k,
             |       CAST(MAX(length(json_extract_string(props, '$$.k'))) AS BIGINT) AS max_k_len
             |FROM events
             |GROUP BY 1, 2""".stripMargin)
    ),

    // VARIANT STORAGE ROUND-TRIP (round-14): parse the JSON ONCE AT INGEST,
    // store the binary variant in parquet, and run the extraction over the
    // RE-READ column — the ingest-once/parse-never-again pattern that is
    // the whole point of variant at rest (every downstream query over
    // 100 TB of crawl metadata skips the text parse; shredding slots in at
    // exactly this storage boundary). Pinned structurally: the re-read
    // schema must still be VariantType (a silent fallback to string/binary
    // would re-introduce the per-query parse and break extraction
    // semantics); graded semantically against the SAME rollup computed by
    // DuckDB from the ORIGINAL strings — a value lost or mangled anywhere
    // in write→read→extract hash-mismatches.
    QueryDef(
      "q_variant_roundtrip",
      (spark, dir) => {
        val tgt = StorageQueries.target("variant_store")
        Tables.events(spark, dir)
          .select(col("event_id"), col("event_type"), col("value"),
                  parse_json(col("props")).as("v"))
          .write.mode("overwrite").parquet(tgt)
        val re = spark.read.parquet(tgt)
        require(re.schema("v").dataType == org.apache.spark.sql.types.VariantType,
          s"variant round-trip: the stored column must re-read as VariantType, " +
          s"got ${re.schema("v").dataType} — storage silently degraded the type")
        re.select(col("event_type"), col("value"),
                  variant_get(col("v"), "$.k", "long").as("k"))
          .groupBy(col("event_type"), pmod(col("k"), lit(10)).as("k_bucket"))
          .agg(count(lit(1)).as("n"),
               Money.lsum(Money.cents(col("value"))).as("sum_value_cents"),
               max(col("k")).as("max_k"))
      },
      Some(s"""SELECT event_type,
             |       CAST(json_extract_string(props, '$$.k') AS BIGINT) % 10 AS k_bucket,
             |       COUNT(*) AS n,
             |       ${Money.lsumSql(Money.centsSql("value"))} AS sum_value_cents,
             |       MAX(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS max_k
             |FROM events
             |GROUP BY 1, 2""".stripMargin)
    ),

    // VARIANT SHREDDING (round-15, the r14 verdict's #3 — the conf EXISTS
    // in 4.1.2, so it is gated, not documented-absent): shredded parquet
    // is the representation that gives variant COLUMNAR behavior — each
    // inferred field lands in its own `typed_value` column with
    // stats/dictionaries, so extraction reads one column instead of
    // decoding the whole binary per row, and row groups prune on variant
    // fields like any typed column. q_variant_roundtrip stores the opaque
    // binary; this gate writes the SAME data with
    // `spark.sql.variant.writeShredding.enabled` +
    // `spark.sql.variant.inferShreddingSchema` and pins the representation
    // at the FOOTER: the variant column's parquet group must carry a
    // `typed_value` subtree (and keep `metadata`), require'd via
    // ParquetFileReader at metadata grain — while the unshredded twin
    // (q_variant_roundtrip's landing) has no typed_value, so the assert
    // cannot vacuously pass. The re-read still types as VariantType, the
    // extraction rollup must stay hash-exact vs the SAME oracle as the
    // unshredded gate (shredding is a storage-layout choice, never a
    // semantics change), and a spot field (`$.k`) must survive both paths
    // identically.
    QueryDef(
      "q_variant_shredded",
      (spark, dir) => {
        import scala.jdk.CollectionConverters._
        val tgt = StorageQueries.target("variant_store_shredded")
        graft.GraftSession.withConfs(spark,
          "spark.sql.variant.writeShredding.enabled" -> "true",
          "spark.sql.variant.inferShreddingSchema" -> "true") {
          Tables.events(spark, dir)
            .select(col("event_id"), col("event_type"), col("value"),
                    parse_json(col("props")).as("v"))
            .write.mode("overwrite").parquet(tgt)
        }
        // FOOTER pin: the variant group was actually shredded on disk
        val part = Option(new java.io.File(tgt).listFiles()).getOrElse(Array.empty)
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part file under $tgt"))
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          spark.sparkContext.hadoopConfiguration,
          new org.apache.hadoop.fs.Path(part.getAbsolutePath))
        val vGroup =
          try reader.getFooter.getFileMetaData.getSchema
            .asGroupType().getType("v")
          finally reader.close()
        require(!vGroup.isPrimitive, s"variant column wrote as primitive: $vGroup")
        val subFields = vGroup.asGroupType().getFields.asScala.map(_.getName).toSet
        require(subFields.contains("typed_value"),
          s"variant column carries NO typed_value subtree despite " +
          s"writeShredding.enabled — wrote only $subFields (unshredded binary)")
        require(subFields.contains("metadata"),
          s"shredded variant group lost its metadata column: $subFields")
        // SCAN-EFFICIENCY pin (round-16, the r15 verdict's #3 — the POINT
        // of shredding): with `spark.sql.variant.pushVariantIntoScan` the
        // planner rewrites variant_get over a shredded scan into a typed
        // struct read — the scan's ReadSchema keeps ONE typed leaf
        // (struct<v:struct<N:bigint>>) instead of the whole binary
        // variant, and the predicate reaches PushedFilters on that leaf,
        // so row groups prune on a variant field like any typed column.
        // Pinned live with a push-on/push-off A/B on the SAME landing:
        // the off leg must read v:variant with the filter NOT pushed
        // (defeats vacuity), both legs must count identically (the
        // rewrite is a layout optimization, never a semantics change).
        def scanLine(push: Boolean): (String, Long) =
          graft.GraftSession.withConfs(spark,
            "spark.sql.variant.allowReadingShredded" -> "true",
            "spark.sql.variant.pushVariantIntoScan" -> push.toString) {
            val df = spark.read.parquet(tgt)
              .select(variant_get(col("v"), "$.k", "long").as("k"))
              .where(col("k") >= 0)
            val scan = df.queryExecution.executedPlan.toString.linesIterator
              .find(_.contains("FileScan parquet"))
              .getOrElse(sys.error("no FileScan in the shredded-read plan"))
            (scan, df.count())
          }
        val (pushedScan, pushedCount) = scanLine(push = true)
        val (plainScan, plainCount) = scanLine(push = false)
        require(pushedScan.contains("v:struct<") && !pushedScan.contains("v:variant"),
          s"pushVariantIntoScan did not shred the ReadSchema to a typed leaf: $pushedScan")
        require(pushedScan.contains("PushedFilters: [") &&
                pushedScan.replaceAll(".*PushedFilters: \\[([^\\]]*)\\].*", "$1")
                  .contains("GreaterThanOrEqual(v."),
          s"the extraction predicate never reached PushedFilters on the shredded leaf: $pushedScan")
        require(plainScan.contains("v:variant"),
          s"the push-off twin unexpectedly shredded too — the A/B is vacuous: $plainScan")
        require(pushedCount == plainCount && pushedCount > 0,
          s"push on/off disagree: $pushedCount vs $plainCount — the scan rewrite changed semantics")
        graft.GraftSession.withConfs(spark,
          "spark.sql.variant.allowReadingShredded" -> "true") {
          val re = spark.read.parquet(tgt)
          require(re.schema("v").dataType == org.apache.spark.sql.types.VariantType,
            s"shredded variant must re-read as VariantType, got ${re.schema("v").dataType}")
          re.select(col("event_type"), col("value"),
                    variant_get(col("v"), "$.k", "long").as("k"))
            .groupBy(col("event_type"), pmod(col("k"), lit(10)).as("k_bucket"))
            .agg(count(lit(1)).as("n"),
                 Money.lsum(Money.cents(col("value"))).as("sum_value_cents"),
                 max(col("k")).as("max_k"))
            .localCheckpoint(eager = true)
        }
      },
      // q_variant_roundtrip's oracle verbatim: layout must not move answers
      Some(s"""SELECT event_type,
             |       CAST(json_extract_string(props, '$$.k') AS BIGINT) % 10 AS k_bucket,
             |       COUNT(*) AS n,
             |       ${Money.lsumSql(Money.centsSql("value"))} AS sum_value_cents,
             |       MAX(CAST(json_extract_string(props, '$$.k') AS BIGINT)) AS max_k
             |FROM events
             |GROUP BY 1, 2""".stripMargin)
    ),

    // VARIANT CORRUPT-INPUT SEMANTICS (round-14, the q_jsonl_corrupt
    // treatment applied to variant ingest): real crawl metadata contains
    // malformed JSON, and the engine must expose BOTH contracts —
    // `try_parse_json` maps corrupt rows to NULL (quarantine-and-continue,
    // counted in the same pass as the rollup, never a separate scan) while
    // strict `parse_json` RAISES on first corruption (the fail-fast
    // contract, the variant twin of udf_parse_strict's PARSE_DATETIME
    // error leg — require'd in-gate on the planted rows alone so the
    // strict leg costs 7 rows, not a corpus scan).
    QueryDef(
      "q_variant_corrupt",
      (spark, dir) => {
        val corrupt = spark.range(7)
          .select(concat(lit("{\"k\": broken"), col("id")).as("props"))
        val strictFailed = scala.util.Try(
          corrupt.select(parse_json(col("props")).as("s")).collect()).isFailure
        require(strictFailed,
          "strict parse_json must RAISE on malformed JSON (ANSI fail-fast " +
          "contract); it returned rows instead")
        val feed = Tables.events(spark, dir).select(col("props")).unionByName(corrupt)
        feed.select(try_parse_json(col("props")).as("v"))
          .agg(count(lit(1)).as("n_rows"),
               sum(when(col("v").isNull, 1L).otherwise(0L)).cast(LongType).as("n_corrupt"),
               max(variant_get(col("v"), "$.k", "long")).as("max_k"))
      },
      Some("""SELECT COUNT(*) + 7 AS n_rows,
             |       CAST(7 AS BIGINT) AS n_corrupt,
             |       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
             |FROM events""".stripMargin)
    ),

    // VARIANT LATERAL EXPLODE (round-14): the schema-on-read expansion —
    // `variant_explode` walks a parsed variant OBJECT into (pos, key,
    // value) rows without the caller naming any field, the operator a
    // crawl-metadata pipeline needs when the property set is open-ended
    // (per-source custom props at 100 TB; the string-path equivalent is a
    // per-key regex walk). The value comes back as VARIANT and is typed at
    // the use site (variant_get '$' as long); grouped per discovered key
    // and graded against DuckDB's independent json_keys + json_extract
    // walk — a key lost, duplicated, or mistyped anywhere mismatches.
    QueryDef(
      "q_variant_explode",
      (spark, dir) => {
        Tables.events(spark, dir).createOrReplaceTempView("variant_explode_src")
        // the result is analyzed against the view, so the view can go
        try spark.sql(
          """SELECT ve.key AS prop_key,
            |       COUNT(*) AS n,
            |       MIN(variant_get(ve.value, '$', 'long')) AS min_v,
            |       MAX(variant_get(ve.value, '$', 'long')) AS max_v
            |FROM variant_explode_src ev,
            |LATERAL variant_explode(parse_json(ev.props)) ve
            |GROUP BY 1""".stripMargin)
        finally spark.catalog.dropTempView("variant_explode_src")
      },
      Some("""SELECT k AS prop_key, COUNT(*) AS n,
             |       MIN(CAST(json_extract(props, '$.' || k) AS BIGINT)) AS min_v,
             |       MAX(CAST(json_extract(props, '$.' || k) AS BIGINT)) AS max_v
             |FROM (SELECT props, unnest(json_keys(props)) AS k FROM events)
             |GROUP BY 1""".stripMargin)
    ),

    // CUBE grouping sets: all 4 combinations of (priority, status)
    QueryDef(
      "q_cube_orders",
      (spark, dir) => {
        Tables.orders(spark, dir)
          .cube(col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"),
               Money.lsum(Money.cents(col("o_totalprice"))).as("sum_price_cents"))
      },
      Some(s"""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
             |       ${Money.lsumSql(Money.centsSql("o_totalprice"))} AS sum_price_cents
             |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin)
    ),

    // approximate distinct (HLL sketch) — sketches differ across engines, so
    // the check is exactness-free by construction: we assert the HLL estimate
    // is within its configured error of the exact count, computed in-query
    QueryDef(
      "q_approx_distinct",
      (spark, dir) => {
        Tables.lineitem(spark, dir)
          .groupBy(col("l_returnflag"))
          .agg(approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx_parts"),
               countDistinct(col("l_partkey")).as("exact_parts"))
          .select(col("l_returnflag"),
                  // grade the sketch, emit a stable boolean: |approx-exact|/exact <= 3*rsd
                  (abs(col("approx_parts") - col("exact_parts")).cast("double") /
                    col("exact_parts").cast("double") <= lit(0.06)).as("within_tolerance"),
                  col("exact_parts"))
      },
      Some("""SELECT l_returnflag, TRUE AS within_tolerance,
             |       COUNT(DISTINCT l_partkey) AS exact_parts
             |FROM lineitem GROUP BY 1""".stripMargin)
    ),

    // time-series rolling aggregation: daily revenue + 7-day trailing sum
    // via a RANGE window over day numbers. Integer-cent sums: exact,
    // merge-order independent, and the window sum stays BIGINT on both sides.
    QueryDef(
      "q_rolling_revenue",
      (spark, dir) => {
        val daily = Tables.orders(spark, dir)
          .groupBy(to_date(col("o_orderdate")).as("day"), col("o_orderpriority"))
          .agg(Money.lsum(Money.cents(col("o_totalprice"))).as("day_rev_cents"))
          .withColumn("day_num", datediff(col("day"), lit("2024-01-01").cast("date")))
        val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("day_num"))
          .rangeBetween(-6, Window.currentRow)
        daily
          .select(col("day"), col("o_orderpriority"), col("day_rev_cents"),
                  sum(col("day_rev_cents")).over(w).cast(LongType).as("rolling_7d_cents"))
      },
      Some(s"""SELECT day, o_orderpriority, day_rev_cents,
             |       CAST(SUM(day_rev_cents) OVER (
             |         PARTITION BY o_orderpriority ORDER BY day_num
             |         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_7d_cents
             |FROM (
             |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority,
             |         ${Money.lsumSql(Money.centsSql("o_totalprice"))} AS day_rev_cents,
             |         date_diff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS day_num
             |  FROM orders GROUP BY 1, 2, 4
             |)""".stripMargin)
    )
  )
}
