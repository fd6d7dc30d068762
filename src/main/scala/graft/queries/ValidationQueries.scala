package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Data-contract validation — the dbt-test / expectation-suite shape run as
  * one oracle-checked query. The reference is a dbt project; dbt's schema
  * tests (unique / not_null / accepted_values / relationships) are the
  * contract layer a production deployment would add around its models, so
  * the engine ships the same four rule kinds natively.
  *
  * One row per rule: (tbl, rule, n_violations, pass). Six contracts hold
  * on this corpus and must report EXACTLY zero; two are deliberately
  * strict (an accepted-values list missing a real category, a value cap
  * below the real range) so the harness demonstrably COUNTS violations
  * rather than just confirming clean data — the oracle pins their exact
  * nonzero counts too.
  *
  * Scale shape per rule kind: unique = count − countDistinct (one
  * hash-agg); not_null / accepted_values / range = map-side conditional
  * count; relationships = left-anti equi-join (broadcast when the parent
  * side is dimension-sized, shuffled hash otherwise — Catalyst's choice).
  * The union glues 8 one-row aggregates; nothing row-sized survives any
  * stage.
  */
object ValidationQueries {

  private def rule(tbl: String, name: String, n: DataFrame): DataFrame =
    n.select(lit(tbl).as("tbl"), lit(name).as("rule"),
             col("n").cast("long").as("n_violations"))
      .withColumn("pass", col("n_violations") === 0L)

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_validate_contracts",
      (spark, dir) => {
        val o = Tables.orders(spark, dir)
        val c = Tables.customer(spark, dir)
        val l = Tables.lineitem(spark, dir)
        val d = Tables.documents(spark, dir)
        val e = Tables.events(spark, dir)
        val rules = Seq(
          rule("orders", "unique:o_orderkey",
            o.agg((count(lit(1)) - countDistinct(col("o_orderkey"))).as("n"))),
          rule("orders", "not_null:o_custkey",
            o.agg(sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n"))),
          rule("orders", "accepted_values:o_orderstatus",
            o.agg(sum(when(!col("o_orderstatus").isin("F", "O", "P"), 1L).otherwise(0L)).as("n"))),
          rule("orders", "relationships:o_custkey->customer",
            o.join(c, col("o_custkey") === col("c_custkey"), "left_anti")
              .agg(count(lit(1)).as("n"))),
          rule("lineitem", "relationships:l_orderkey->orders",
            l.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")
              .agg(count(lit(1)).as("n"))),
          rule("documents", "unique:doc_id",
            d.agg((count(lit(1)) - countDistinct(col("doc_id"))).as("n"))),
          // strict-by-design: the list omits the real 'error' category, so
          // n_violations = exact count of error events (nonzero)
          rule("events", "accepted_values:event_type[strict]",
            e.agg(sum(when(!col("event_type").isin("click", "view", "purchase", "signup"), 1L)
              .otherwise(0L)).as("n"))),
          // strict-by-design: cap below the real value range
          rule("events", "range:value<=100[strict]",
            e.agg(sum(when(col("value") > 100.0d, 1L).otherwise(0L)).as("n")))
        )
        rules.reduce(_.unionByName(_))
      },
      Some("""SELECT 'orders' AS tbl, 'unique:o_orderkey' AS rule,
             |       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_violations,
             |       (COUNT(*) - COUNT(DISTINCT o_orderkey)) = 0 AS pass FROM orders
             |UNION ALL
             |SELECT 'orders', 'not_null:o_custkey',
             |       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             |       SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 FROM orders
             |UNION ALL
             |SELECT 'orders', 'accepted_values:o_orderstatus',
             |       CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT),
             |       SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) = 0 FROM orders
             |UNION ALL
             |SELECT 'orders', 'relationships:o_custkey->customer',
             |       CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
             |FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
             |UNION ALL
             |SELECT 'lineitem', 'relationships:l_orderkey->orders',
             |       CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
             |FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
             |UNION ALL
             |SELECT 'documents', 'unique:doc_id',
             |       CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT),
             |       (COUNT(*) - COUNT(DISTINCT doc_id)) = 0 FROM documents
             |UNION ALL
             |SELECT 'events', 'accepted_values:event_type[strict]',
             |       CAST(SUM(CASE WHEN event_type NOT IN ('click','view','purchase','signup') THEN 1 ELSE 0 END) AS BIGINT),
             |       SUM(CASE WHEN event_type NOT IN ('click','view','purchase','signup') THEN 1 ELSE 0 END) = 0 FROM events
             |UNION ALL
             |SELECT 'events', 'range:value<=100[strict]',
             |       CAST(SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT),
             |       SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) = 0 FROM events""".stripMargin)
    ),

    // IN-FLIGHT data-quality metrics via `observe()` (Catalyst's
    // CollectMetrics operator) — the zero-extra-pass alternative to a
    // separate validation query: the metrics accumulate ON the rows of a
    // real pipeline run as they stream through the existing scan, so at
    // 100 TB contract checking costs nothing beyond the job that was
    // running anyway (q_validate_contracts, by contrast, pays one scan per
    // table — the right shape for standalone audits, the wrong one inside
    // a hot pipeline). The pipeline leg here is the q_streaming_enrich-
    // style per-segment rollup; its materialization populates the
    // observation, and the OBSERVED metrics are the query's output — the
    // oracle recomputes every one from the events table, so a metric that
    // missed rows (e.g. observed after a filter instead of before, or
    // double-counted under retries) hash-mismatches. The one-row
    // `Observation.get` is observation METADATA by design, not data
    // collection.
    QueryDef(
      "q_observed_metrics",
      (spark, dir) => {
        val obs = new org.apache.spark.sql.Observation(
          s"contracts_${System.identityHashCode(spark) ^ System.nanoTime()}")
        val e = Tables.events(spark, dir)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
                  col("ts").cast("timestamp").as("ts"))
          .observe(obs,
            count(lit(1)).cast("long").as("n_rows"),
            sum(when(col("event_type").isin("click", "view", "purchase", "signup"), 0L)
              .otherwise(1L)).cast("long").as("n_unexpected_type"),
            sum(when(col("value") > 100.0d, 1L).otherwise(0L)).cast("long").as("n_over_cap"),
            sum(when(col("user_id").isNull, 1L).otherwise(0L)).cast("long").as("n_null_user"),
            min(col("ts")).as("min_ts"),
            max(col("ts")).as("max_ts"))
        // the real pipeline work the metrics ride on — materialized to a
        // tiny rollup, which is what populates the observation
        val pipeline = e
          .withColumn("cents", expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
        pipeline.localCheckpoint(eager = true)
        val m = obs.get
        import spark.implicits._
        Seq((m("n_rows").asInstanceOf[Long],
             m("n_unexpected_type").asInstanceOf[Long],
             m("n_over_cap").asInstanceOf[Long],
             m("n_null_user").asInstanceOf[Long],
             m("min_ts").asInstanceOf[java.sql.Timestamp],
             m("max_ts").asInstanceOf[java.sql.Timestamp]))
          .toDF("n_rows", "n_unexpected_type", "n_over_cap", "n_null_user",
                "min_ts", "max_ts")
      },
      Some("""SELECT COUNT(*) AS n_rows,
             |       CAST(SUM(CASE WHEN event_type NOT IN ('click','view','purchase','signup') THEN 1 ELSE 0 END) AS BIGINT) AS n_unexpected_type,
             |       CAST(SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap,
             |       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_user,
             |       MIN(ts) AS min_ts, MAX(ts) AS max_ts
             |FROM events""".stripMargin)
    )
  )
}
