package graft.queries

import graft.{GraftExtensions, ReferencePipeline, Tables}
import graft.dedup.Dedup
import graft.functions.BqFunctions
import graft.similarity.Vectors
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

/** Queries exercising the reference's own semantics (SURVEY.md §2 O1–O12):
  * the parse_datetime UDF over all five format arms, the flagship
  * TVF → datamart pipeline, and the `SparkSessionExtensions` SQL-function
  * surface end-to-end.
  */
object ParityQueries {

  /** CASE expression rendering events.ts into the 5 accepted layouts,
    * DuckDB side (index-aligned with ReferencePipeline.renderFormats).
    */
  private def renderCaseDuckDb(tsCol: String, idCol: String): String = {
    val arms = ReferencePipeline.renderFormatsDuckDb.zipWithIndex.map {
      case (f, i) => s"WHEN $i THEN strftime($tsCol, '$f')"
    }
    s"CASE $idCol % 5 ${arms.mkString(" ")} END"
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "udf_parse_datetime",
      (spark, dir) => {
        val ev = Tables.events(spark, dir)
        val rendered = Seq(
          "yyyy/MM/dd HH:mm:ss",
          "yyyy/MM/dd",
          "yyyy-MM-dd HH:mm:ss",
          "yyyy-MM-dd",
          "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
        ).zipWithIndex.foldLeft(lit(null: String)) { case (acc, (f, i)) =>
          when(pmod(col("event_id"), lit(5)) === i, date_format(col("ts"), f)).otherwise(acc)
        }
        ev.select(col("event_id"), rendered.as("raw"))
          .select(col("event_id"), col("raw"), BqFunctions.parseDatetime(col("raw")).as("datetime"))
          .orderBy("event_id")
      },
      Some(s"""WITH t AS (
              |  SELECT event_id, ${renderCaseDuckDb("ts", "event_id")} AS raw FROM events
              |)
              |SELECT event_id, raw, ${BqFunctions.parseDatetimeDuckDbExpr("raw")} AS datetime
              |FROM t ORDER BY event_id""".stripMargin)
    ),
    // strict PARSE_DATETIME error semantics (SURVEY.md §2 O9) IN THE GATE:
    // the reference's UDF raises when no format arm matches
    // (/root/reference/models/udf/function/parse_datetime.sql:15 — the
    // final arm is the strict parse). Rows that no arm can parse are
    // PLANTED (event_id % 7 == 0 renders as garbage), the full chain runs
    // distributed under ANSI mode, and the gate output reports (a) the
    // SAFE-chain count of unparseable rows and (b) whether the strict arm
    // actually raised a date-time error — caught by walking the task-
    // failure cause chain for the DateTimeException/CANNOT_PARSE marker;
    // any OTHER failure rethrows. If Spark ever stopped raising (ANSI off,
    // semantics drift), strict_raises=false hash-mismatches the oracle's
    // pinned TRUE.
    QueryDef(
      "udf_parse_strict",
      (spark, dir) => {
        val feed = Tables.events(spark, dir)
          .select(col("event_id"),
                  when(pmod(col("event_id"), lit(7)) === 0,
                       concat(lit("garbage-"), col("event_id")))
                    .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).as("raw"))
        val strictRaises =
          try {
            feed.select(BqFunctions.parseDatetime(col("raw")).as("dt"))
              .foreach(_ => ())
            false
          } catch {
            case t: Throwable =>
              val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(12).toSeq
              // classify by exception CLASS first (SparkDateTimeException
              // extends java.time.DateTimeException; any SparkThrowable
              // carries a stable error-condition name), falling back to
              // message text only last — messages are version/locale-
              // sensitive and a reworded one must not turn this graded
              // FALSE into a hard error
              val isDateTime = chain.exists { c =>
                c.isInstanceOf[java.time.DateTimeException] ||
                (c match {
                  case st: org.apache.spark.SparkThrowable =>
                    Option(st.getCondition).exists(cond =>
                      cond.contains("CANNOT_PARSE") || cond.contains("INVALID_DATETIME"))
                  case _ => false
                }) ||
                Option(c.getMessage).exists(m =>
                  m.contains("CANNOT_PARSE_TIMESTAMP") || m.contains("could not be parsed"))
              }
              if (!isDateTime) throw t
              true
          }
        val nBad = feed.where(BqFunctions.parseDatetimeSafe(col("raw")).isNull).count()
        spark.range(1).select(lit(nBad).as("n_unparseable"),
                              lit(strictRaises).as("strict_raises"))
      },
      Some(s"""WITH t AS (
              |  SELECT event_id,
              |         CASE WHEN event_id % 7 = 0 THEN concat('garbage-', event_id)
              |              ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS raw
              |  FROM events
              |)
              |SELECT COUNT(*) FILTER (WHERE ${BqFunctions.parseDatetimeSafeDuckDbExpr("raw")} IS NULL) AS n_unparseable,
              |       TRUE AS strict_raises
              |FROM t""".stripMargin)
    ),
    QueryDef(
      "udf_datamart",
      (spark, dir) => ReferencePipeline.datamart(spark, dir, id = "13"),
      Some(s"""WITH test_table AS (
              |  SELECT CAST(user_id AS VARCHAR) AS id,
              |         CAST(event_id AS VARCHAR) AS column1,
              |         ${renderCaseDuckDb("ts", "event_id")} AS column2
              |  FROM events
              |)
              |SELECT CAST(column1 AS BIGINT) AS column1,
              |       ${BqFunctions.parseDatetimeDuckDbExpr("column2")} AS datetime
              |FROM test_table WHERE id = '13'
              |ORDER BY column1""".stripMargin)
    ),

    // the SparkSessionExtensions SQL-function surface, oracle-gated: the
    // engine's custom Catalyst expressions (h32_array, minhash_signature,
    // simhash32, dot_product) invoked VIA `spark.sql` through the injected
    // function registry — the path a SQL-only user takes — rather than the
    // DataFrame Column API the dedup/ANN queries use. Token/shingle prep is
    // the same staged DataFrame pipeline as everywhere else (it is not what
    // this query tests); the signature kernels all run inside the SQL
    // string. The oracle recomputes every value from the established DuckDB
    // twins, so a registry mis-wire (wrong builder, wrong arg order, wrong
    // default width) hash-mismatches. Array outputs are collapsed to scalar
    // digests (the driver comparator cannot sort array columns).
    QueryDef(
      "q_sql_functions",
      (spark, dir) => {
        GraftExtensions.register(spark)
        val k = 3 // corpus-wide shingle width (DedupQueries.ShingleK)
        Tables.documents(spark, dir)
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
          .where(size(col("toks")) >= k)
          .select(col("doc_id"), TextAnalysis.shinglesOf(col("toks"), k).as("shn"))
          .createOrReplaceTempView("graft_sqlfn_docs")
        Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .createOrReplaceTempView("graft_sqlfn_emb")
        // the result is analyzed against the views, so the views can go
        try spark.sql(
          """SELECT d.doc_id,
            |       simhash32(d.hs) AS simhash_lo,
            |       md5(concat_ws(',', transform(minhash_signature(d.hs), x -> CAST(x AS STRING)))) AS minhash_digest,
            |       dot_product(e.v, e.v) AS self_dot
            |FROM (SELECT doc_id, array_distinct(h32_array(shn)) AS hs
            |      FROM graft_sqlfn_docs) d
            |JOIN graft_sqlfn_emb e ON d.doc_id = e.vec_id""".stripMargin)
        finally Seq("graft_sqlfn_docs", "graft_sqlfn_emb").foreach(spark.catalog.dropTempView)
      },
      Some {
        val mh = Dedup.minhashSignatureSql("hs") // default width, as the 1-arg SQL builder
        s"""WITH hs0 AS (
           |  SELECT doc_id, ${Dedup.shingleHashSetSql("text", 3)} AS hs FROM documents
           |),
           |d AS (SELECT doc_id, hs FROM hs0 WHERE len(hs) > 0),
           |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
           |SELECT d.doc_id,
           |       ${Dedup.simhashSql("hs")} AS simhash_lo,
           |       md5(list_aggregate(list_transform($mh, x -> CAST(x AS VARCHAR)), 'string_agg', ',')) AS minhash_digest,
           |       ${Vectors.dotSql("v", "v")} AS self_dot
           |FROM d JOIN e ON d.doc_id = e.vec_id""".stripMargin
      }
    )
  )
}
