package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import graft.{GraftSession, Tables}
import org.apache.spark.perfbench.BusAccess
import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: set up the session, run the cold pass
  * and then warm passes of one workload while another pass is expected to
  * end within `--seconds` (at least one warm pass), check every op's
  * answer, and write the run record as JSON to `--out`. `run.py` turns the
  * record into metrics.
  *
  * {{{
  * Main --workload NAME --seed N --seconds S --trace 0|1
  *      --data DIR --expected DIR --work DIR --out FILE
  * }}}
  */
object Main {
  val Threads = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = opt.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val data = arg("data")
    val work = Paths.get(arg("work"))
    val expected = Expected.load(Paths.get(arg("expected")))

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val buildStart = Clock.nowMs
    val spark = GraftSession.local(Threads, "perfbench")
    val built = Clock.nowMs
    val spans = new Spans(traced)
    val recorder = new SparkRecorder
    if (traced) recorder.install(spark)
    val progress = new ProgressRecorder
    spark.streams.addListener(progress)
    val wl = new Workloads(spark, data, work, expected, spans)
    warmup(spark, data, wl.tables(workload))
    val ready = Clock.nowMs

    val rng = new Random(seed)
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val sc = spark.sparkContext
    val measureStart = Clock.nowMs
    var pass = 0
    var lastPassMs = 0.0
    // another pass only if it is expected to end within the run's seconds;
    // the cold pass and one warm pass always run
    while (pass < 2 || Clock.nowMs - measureStart + lastPassMs <= seconds * 1000) {
      val passStart = Clock.nowMs
      wl.pass(workload, rng).foreach { op =>
        val id = ops.size
        spark.catalog.clearCache()
        val before = if (traced) Some(Hermetic.snapshot(spark)) else None
        spans.op = id
        sc.setLocalProperty(OpProperty.Key, id.toString)
        val t0 = Clock.nowMs
        val result =
          try Right(spans.span("op")(op.run()))
          catch { case e: Throwable => Left(e) }
        val t1 = Clock.nowMs
        sc.setLocalProperty(OpProperty.Key, null)
        spans.op = -1
        val drift = before.map(Hermetic.diff(_, Hermetic.snapshot(spark)))
        spark.catalog.clearCache()
        val error = result match {
          case Left(e) => Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ")}".take(400))
          case Right(a) if a != op.expected => Some(s"wrong answer: got $a, expected ${op.expected}")
          case _ => None
        }
        val got = result.toOption
        ops += Map(
          "id" -> id, "pass" -> pass, "kind" -> op.kind, "name" -> op.name, "arg" -> op.arg,
          "start_ms" -> t0, "end_ms" -> t1, "ok" -> error.isEmpty, "error" -> error,
          "rows" -> got.map(_.rows), "hash" -> got.flatMap(_.hash).map(_.toString),
          "conf_drift_keys" -> drift.map(_._1), "leaked_temp_objects" -> drift.map(_._2),
          "table_write_bytes" -> (if (traced && op.kind == "model_build") Some(tableBytes(spark)) else None))
        error.foreach(e => System.err.println(s"[perfbench] FAILED op ${op.kind}:${op.name}${if (op.arg.nonEmpty) s"(${op.arg})" else ""}: $e"))
      }
      lastPassMs = Clock.nowMs - passStart
      passes += Map("pass" -> pass, "start_ms" -> passStart, "end_ms" -> (passStart + lastPassMs))
      pass += 1
    }
    val measureEnd = Clock.nowMs

    val rig = if (traced) Rig.run(seed) else Map.empty[String, Double]
    BusAccess.drain(sc)
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "threads" -> Threads, "data" -> data,
      "setup" -> Map(
        "jvm_start_ms" -> jvmStartMs, "build_start_ms" -> buildStart, "built_ms" -> built, "ready_ms" -> ready),
      "measure" -> Map("start_ms" -> measureStart, "end_ms" -> measureEnd),
      "passes" -> passes, "ops" -> ops,
      "progress" -> progress.all,
      "spans" -> spans.all.map(s => Seq(s.id, s.name, s.parent, s.op, s.start, s.end)),
      "spark" -> (if (traced) recorder.record else Map.empty),
      "rig" -> rig,
      "peak_rss_mb" -> peakRssMb)
    spark.stop()
    val out = Paths.get(arg("out"))
    Files.createDirectories(out.toAbsolutePath.getParent)
    Files.writeString(out, Json.write(record))
    val failed = ops.count(_("ok") == false)
    System.err.println(s"[perfbench] $workload: ${ops.size} ops in $pass passes, $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }

  /** The harness warm-up `graft.Bench` does (codegen, JIT, the parquet
    * reader), plus one read of every table the workload uses.
    */
  def warmup(spark: SparkSession, data: String, tables: Seq[String]): Unit = {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.range(10000L)
      .selectExpr("md5(regexp_replace(lower(concat('x ', id)), '\\\\s+', ' ')) AS h")
      .selectExpr("count(distinct h)").collect()
    tables.foreach(t => Tables.load(spark, data, t).count())
  }

  /** Bytes of the datamart table the model build wrote. */
  private def tableBytes(spark: SparkSession): Long = {
    val dir = Paths.get(java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir"))).resolve("test_datamart")
    if (!Files.isDirectory(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  }

  /** Peak resident set (`VmHWM`) of this JVM, in MiB. */
  private def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else Files.readAllLines(status).toArray.map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}

/** Session state an op should leave as it found it: the conf and the temp
  * views and functions.
  */
object Hermetic {
  final case class Snapshot(conf: Map[String, String], temps: Set[String])

  def snapshot(spark: SparkSession): Snapshot = {
    val views = spark.sql("SHOW VIEWS").collect().filter(_.getAs[Boolean]("isTemporary"))
      .map(r => "view:" + r.getAs[String]("viewName"))
    val fns = spark.sql("SHOW USER FUNCTIONS").collect().map(r => "function:" + r.getString(0))
    Snapshot(spark.conf.getAll, (views ++ fns).toSet)
  }

  /** (conf keys added, removed or changed; temp objects that appeared) */
  def diff(a: Snapshot, b: Snapshot): (Int, Int) = {
    val keys = a.conf.keySet ++ b.conf.keySet
    (keys.count(k => a.conf.get(k) != b.conf.get(k)), (b.temps -- a.temps).size)
  }
}
