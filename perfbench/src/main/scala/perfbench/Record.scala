package perfbench

import java.nio.file.{Files, Paths}

import graft.{GraftSession, ReferencePipeline, SparkEntry, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Records the expected answers the benchmark checks against.
  *
  * {{{
  * Record --events-data DIR --query-data DIR --expected DIR --oracle FILE
  * }}}
  *
  *   - `queries.tsv`: (rows, hash) of every registry query the workloads
  *     run, from the engine as it is when recorded;
  *   - `tvf_ids.tsv`: (rows, hash) of `test_table_function(id)` for every
  *     `events.user_id`, computed WITHOUT the Materializer/TVF path: the
  *     rendered-then-parsed datetime is the event time truncated to what
  *     its render format keeps. A sample of ids is also run through the
  *     TVF and must agree.
  *   - `--oracle`: a JSON file of DuckDB oracle SQL and the per-id sums the
  *     direct path gives, which `record_expected.py` cross-checks in DuckDB.
  */
object Record {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val eventsData = opt("events-data")
    val queryData = opt("query-data")
    val dir = Paths.get(opt("expected"))
    Files.createDirectories(dir)
    val spark = GraftSession.local(Main.Threads, "perfbench-record")
    val wl = new Workloads(spark, queryData, dir, Expected(Map.empty, Map.empty), new Spans(false))

    val names = wl.Operators ++ wl.StreamingGates
    val queries = names.map { n =>
      spark.catalog.clearCache()
      val a = Answer.of(SparkEntry.queries(n)(spark, queryData))
      System.err.println(s"[record] $n: $a")
      n -> a
    }
    Expected.write(dir.resolve("queries.tsv"), queries.sortBy(_._1))

    // the datetime parse_datetime recovers from each render format
    // (ReferencePipeline.renderFormats, indexed by event_id % 5)
    val ev = Tables.events(spark, eventsData)
    val ts = col("ts")
    val k = pmod(col("event_id"), lit(5))
    val recovered = when(k === 1 || k === 3, date_trunc("day", ts))
      .when(k === 4, ts.cast("timestamp"))
      .otherwise(date_trunc("second", ts))
    val direct = ev.select(
      col("user_id").cast("string").as("id"),
      col("event_id").cast("bigint").as("column1"),
      recovered.cast(TimestampNTZType).as("datetime"))
    val perId = direct.groupBy("id").agg(
      count(lit(1)).as("n"),
      bit_xor(xxhash64(struct(col("column1"), col("datetime")))).as("h"),
      sum(col("column1")).as("sum_column1"),
      sum(unix_micros(col("datetime").cast("timestamp"))).as("sum_micros"))
      .collect().sortBy(_.getString(0).toLong)
    val tvfIds = perId.map(r => r.getString(0) -> Answer(r.getLong(1), Some(r.getLong(2))))
    Expected.write(dir.resolve("tvf_ids.tsv"), tvfIds.toSeq)

    val sample = tvfIds.grouped(math.max(1, tvfIds.length / 40)).map(_.head).toSeq
    sample.foreach { case (id, want) =>
      val got = Answer.of(ReferencePipeline.datamart(spark, eventsData, id))
      require(got == want, s"TVF path disagrees with the direct path for id $id: $got vs $want")
    }
    System.err.println(s"[record] ${tvfIds.length} TVF ids; ${sample.size} sampled through the TVF agree")

    val oracle = Map(
      "queries" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(sql =>
        Map("name" -> n, "sql" -> sql, "rows" -> queries.toMap.apply(n).rows))),
      "udf_datamart" -> SparkEntry.oracleSql("udf_datamart"),
      "tvf_ids" -> perId.map(r => Seq(r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4))).toSeq)
    Files.writeString(Paths.get(opt("oracle")), Json.write(oracle))
    spark.stop()
  }
}
