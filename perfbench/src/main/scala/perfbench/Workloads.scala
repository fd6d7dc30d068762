package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.{ReferencePipeline, SparkEntry}
import graft.udf.{Materializer, ModelRunner, Registry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct}

/** A forced result: row count and `bit_xor(xxhash64(struct(*)))` (None on
  * an empty result), the same evaluation `graft.Bench` uses, so no
  * projection is pruned away.
  */
final case class Answer(rows: Long, hash: Option[Long]) {
  override def toString: String = s"rows=$rows hash=${hash.getOrElse("null")}"
}

object Answer {
  def of(df: DataFrame): Answer = {
    val r = df.select(struct(df.columns.map(col).toIndexedSeq: _*).as("s"))
      .selectExpr("count(*) AS n", "bit_xor(xxhash64(s)) AS h")
      .collect()(0)
    Answer(r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
  }
}

/** One closed-loop operation: `run` drives the engine and returns what it
  * produced, which must equal `expected`.
  */
final case class Op(kind: String, name: String, arg: String, expected: Answer, run: () => Answer)

/** Expected answers, stored in the benchmark's `expected/` directory:
  * `queries.tsv` (name, rows, hash) and `tvf_ids.tsv` (id, rows, hash).
  */
final case class Expected(queries: Map[String, Answer], tvfIds: Map[String, Answer])

object Expected {
  private def read(p: Path): Map[String, Answer] =
    Files.readAllLines(p).asScala.iterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(k, n, h) = l.split('\t')
        k -> Answer(n.toLong, if (h == "null") None else Some(h.toLong))
      }.toMap

  def load(dir: Path): Expected =
    Expected(read(dir.resolve("queries.tsv")), read(dir.resolve("tvf_ids.tsv")))

  def write(p: Path, rows: Seq[(String, Answer)]): Unit =
    Files.write(p, rows.map { case (k, a) => s"$k\t${a.rows}\t${a.hash.getOrElse("null")}" }.asJava): Unit
}

/** The two workloads. A pass is a fixed multiset of ops in an order drawn
  * from the workload seed; the seed also draws the TVF ids.
  */
final class Workloads(spark: SparkSession, data: String, work: Path, expected: Expected, spans: Spans) {

  /** Operators whose executor compute, shuffle, spill and custom kernels
    * dominate, then streaming gates whose micro-batch lifecycle dominates.
    * `ann_ivf_topk` carries the IVF nearest-centroid assignment at a third
    * of `ann_ivfpq_recall`'s cost. Left out for pass length:
    * `ann_ivfpq_recall`, `dedup_minhash_recall`, `dedup_clusters`,
    * `text_bpe_encode`, `q_pagerank`, `q_streaming_sessionize`,
    * `q_streaming_left_outer` and `q_streaming_restart`; and
    * `q_streaming_cdc_ttl`, which a mandatory 7.2 s sleep dominates.
    */
  val Operators: Seq[String] = Seq(
    "ann_ivf_topk", "ann_bruteforce_topk", "text_tfidf", "media_jpeg_decode",
    "q3_shipping_priority", "q_agg_spill")
  val StreamingGates: Seq[String] = Seq("q_streaming_dedup", "q_streaming_cdc", "q_streaming_window_counts")

  /** Tables each workload reads, made readable during set-up. */
  def tables(workload: String): Seq[String] = workload match {
    case "reference_pipeline" => Seq("events")
    case "operator_batch" => Seq("customer", "orders", "lineitem", "documents", "embeddings", "events")
  }

  private lazy val queries = SparkEntry.queries
  private val presentIds = expected.tvfIds.keys.toIndexedSeq.sortBy(_.toLong)
  /** Ids no events row carries: the TVF returns an empty result. */
  private def absentId(rng: Random): String = (10000000L + rng.nextInt(1000000)).toString

  def pass(workload: String, rng: Random): Seq[Op] = workload match {
    case "reference_pipeline" =>
      // per pass: 16 TVF calls (2 on absent ids), 3 model builds, 1 registry
      // replay. Builds are the slowest ops; at 15% of ops rather than 10%,
      // op_p90 falls among them instead of on the edge between two kinds.
      val tvfs = Seq.fill(14)(presentIds(rng.nextInt(presentIds.size))) ++ Seq.fill(2)(absentId(rng))
      val ops = tvfs.map(tvfCall) ++
        Seq.fill(3)(modelBuild(presentIds(rng.nextInt(presentIds.size)))) :+ registryReplay
      rng.shuffle(ops)
    case "operator_batch" =>
      rng.shuffle(Operators.map(query("query", _)) ++ StreamingGates.map(query("stream", _)))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def tvfAnswer(id: String): Answer = expected.tvfIds.getOrElse(id, Answer(0, None))

  def query(kind: String, name: String): Op = {
    val build = queries.getOrElse(name, throw new IllegalArgumentException(s"no query '$name'"))
    val exp = expected.queries.getOrElse(name, throw new IllegalStateException(s"no expected answer for '$name'"))
    Op(kind, name, "", exp, () => {
      val df = spans.span("queries.build")(build(spark, data))
      spans.span("queries.eval")(Answer.of(df))
    })
  }

  def tvfCall(id: String): Op = Op("tvf", "test_table_function", id, tvfAnswer(id), () => {
    val df = spans.span("queries.build")(ReferencePipeline.datamart(spark, data, id))
    spans.span("queries.eval")(Answer.of(df))
  })

  /** The datamart `Table` model through `ModelRunner.run` (saveAsTable plus
    * comments); the written table is read back and checked.
    */
  def modelBuild(id: String): Op = Op("model_build", "test_datamart", id, tvfAnswer(id), () => {
    spans.span("udf.model_run") {
      new ModelRunner(Seq(ReferencePipeline.datamartModel(data, id))).run(spark, parallelism = 4)
    }
    spans.span("queries.eval")(Answer.of(spark.table("test_datamart")))
  })

  /** `Registry.materializeAndSave`'s two halves (materialize into this
    * session, save the DDL), then `Registry.bootstrap` into a new session,
    * where the replayed UDF and TVF must resolve and compute.
    */
  def registryReplay: Op = Op("registry_replay", "registry", "", Answer(2, None), () => {
    val dir = work.resolve("registry").toString
    val udfs = Seq(ReferencePipeline.parseDatetimeSpec)
    val tvfs = Seq(ReferencePipeline.testTableFunctionSpec)
    // the TVF body reads test_table, which must exist when it is created
    spans.span("queries.build")(ReferencePipeline.testTable(spark, data).createOrReplaceTempView("test_table"))
    spans.span("udf.materialize") {
      udfs.foreach(Materializer.materializeFunction(spark, _, None, temporary = true))
      tvfs.foreach(Materializer.materializeTableFunction(spark, _, None, temporary = true))
    }
    spans.span("udf.registry_save") {
      Registry.save(dir,
        udfs.map(s => s.name -> Materializer.createFunctionSql(s, None, temporary = true)) ++
          tvfs.map(s => s.name -> Materializer.createTableFunctionSql(s, None, temporary = true)))
    }
    val fresh = spark.newSession()
    ReferencePipeline.testTable(fresh, data).createOrReplaceTempView("test_table")
    val replayed = spans.span("udf.registry_bootstrap")(Registry.bootstrap(fresh, dir))
    spans.span("queries.eval") {
      val parsed = fresh.sql("SELECT parse_datetime('2024/01/02 03:04:05') AS d").collect()(0).get(0)
      require(parsed == java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5),
        s"replayed parse_datetime returned $parsed")
      val cols = fresh.sql("SELECT * FROM test_table_function('13')").columns.toSeq
      require(cols == Seq("column1", "datetime"), s"replayed TVF has columns $cols")
    }
    Answer(replayed.toLong, None)
  })
}
