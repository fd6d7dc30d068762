package graft

import graft.udf.ModelRunner
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.CatalogBridge
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

class ReferencePipelineSpec extends SparkTestBase {

  test("flagship datamart reproduces the reference's output shape and filters by id") {
    val dm = ReferencePipeline.datamart(spark, sf, id = "13")
    val schema = dm.schema
    // /root/reference/models/datamart/schema.yml:6-10: (column1 INT64, datetime DATETIME)
    assert(schema("column1").dataType == LongType)
    assert(schema("datetime").dataType == TimestampNTZType)
    val rows = dm.collect()
    assert(rows.length > 0)
    assert(rows.forall(_.getAs[Any]("datetime") != null))
  }

  test("TVF argument binds at runtime: different ids give disjoint row sets") {
    val a = ReferencePipeline.datamart(spark, sf, id = "13").collect().map(_.getLong(0)).toSet
    val b = ReferencePipeline.datamart(spark, sf, id = "7").collect().map(_.getLong(0)).toSet
    assert(a.nonEmpty && b.nonEmpty && a.intersect(b).isEmpty)
  }

  test("TVF argument is a bound parameter: quoting ids return no rows and cannot inject") {
    val injection = """x\') UNION ALL SELECT CAST(column1 AS BIGINT), parse_datetime(column2) FROM test_table --"""
    for (id <- Seq(injection, "a'b"))
      assert(ReferencePipeline.datamart(spark, sf, id).count() == 0, id)
  }

  /** The catalog's own instances of the view, the UDF and the TVF. */
  private def registered(s: org.apache.spark.sql.SparkSession = spark): Seq[AnyRef] = {
    val c = CatalogBridge.catalog(s)
    Seq(c.getRawTempView("test_table").get,
      c.lookupBuiltinOrTempFunction("parse_datetime").get,
      c.lookupBuiltinOrTempTableFunction("test_table_function").get)
  }

  private def sameInstances(a: Seq[AnyRef], b: Seq[AnyRef]): Boolean =
    a.zip(b).forall { case (x, y) => x eq y }

  /** The datamart's answer for `id`, computed straight from `events`. */
  private def expected(dir: String, id: Long): Seq[Long] =
    Tables.events(spark, dir).where(col("user_id") === id)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq

  private def column1(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq

  test("repeated datamart calls reuse the registered catalog objects") {
    ReferencePipeline.datamart(spark, sf, "13").collect()
    val first = registered()
    assert(column1(ReferencePipeline.datamart(spark, sf, "7")) == expected(sf, 7))
    assert(column1(ReferencePipeline.datamart(spark, sf, "13")) == expected(sf, 13))
    assert(sameInstances(registered(), first))
  }

  test("a dropped UDF or a replaced source view registers again") {
    val want = expected(sf, 13)
    ReferencePipeline.datamart(spark, sf, "13").collect()
    val before = registered()

    spark.sql("DROP TEMPORARY FUNCTION parse_datetime")
    assert(column1(ReferencePipeline.datamart(spark, sf, "13")) == want)
    val afterDrop = registered()
    assert(!(afterDrop(1) eq before(1)))

    // same name, other rows: the TVF would read these if nothing re-registered
    spark.range(3).selectExpr("'13' AS id", "'1' AS column1", "'2024/01/01' AS column2")
      .createOrReplaceTempView("test_table")
    val planted = CatalogBridge.catalog(spark).getRawTempView("test_table").get
    assert(column1(ReferencePipeline.datamart(spark, sf, "13")) == want)
    assert(!(registered().head eq planted))
  }

  test("alternating scale directories give each directory's own answer") {
    val other = "/root/testdata/sf0.01"
    val want = Map(sf -> expected(sf, 13), other -> expected(other, 13))
    assert(want(sf) != want(other))
    for (dir <- Seq(sf, other, sf, other))
      assert(column1(ReferencePipeline.datamart(spark, dir, "13")) == want(dir), dir)
  }

  test("a new session registers for itself") {
    ReferencePipeline.datamart(spark, sf, "13").collect()
    val mine = registered()
    val fresh = spark.newSession()
    assert(CatalogBridge.catalog(fresh).getRawTempView("test_table").isEmpty)
    assert(column1(ReferencePipeline.datamart(fresh, sf, "13")) == expected(sf, 13))
    assert(registered(fresh).zip(mine).forall { case (x, y) => !(x eq y) })
    ReferencePipeline.datamart(spark, sf, "13").collect()
    assert(sameInstances(registered(), mine))
  }

  test("two datamart Table models in one level register concurrently and both come out right") {
    // start unregistered, so both pool threads race into register
    spark.sql("DROP TEMPORARY FUNCTION IF EXISTS parse_datetime")
    val models = Seq("dm_13" -> "13", "dm_7" -> "7").map { case (name, id) =>
      ReferencePipeline.datamartModel(sf, id).copy(name = name)
    }
    val runner = new ModelRunner(models)
    assert(runner.levels(models).size == 1)
    runner.run(spark, parallelism = 4)
    assert(spark.table("dm_13").select("column1").collect().map(_.getLong(0)).sorted.toSeq == expected(sf, 13))
    assert(spark.table("dm_7").select("column1").collect().map(_.getLong(0)).sorted.toSeq == expected(sf, 7))
    spark.sql("DROP TABLE dm_13")
    spark.sql("DROP TABLE dm_7")
  }

  test("datamart model builds over an orphaned directory at its default location") {
    spark.sql("DROP TABLE IF EXISTS test_datamart")
    val dir = new Path(spark.conf.get("spark.sql.warehouse.dir"), "test_datamart")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(dir, "stale.parquet"))
    out.writeBytes("left by an earlier process")
    out.close()

    new ModelRunner(Seq(ReferencePipeline.datamartModel(sf))).run(spark)
    val desc = spark.sql("DESCRIBE TABLE test_datamart").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc("column1").contains("INT64"))
    assert(desc("datetime").contains("civil datetime"))
    val rows: Set[Row] = spark.table("test_datamart").collect().toSet
    assert(rows.nonEmpty && rows == ReferencePipeline.datamart(spark, sf, "13").collect().toSet)
    spark.sql("DROP TABLE test_datamart")
  }

  test("datamart model persists docs: DESCRIBE shows reference schema.yml comments") {
    new graft.udf.ModelRunner(Seq(ReferencePipeline.datamartModel(sf)))
      .run(spark)
    val desc = spark.sql("DESCRIBE TABLE test_datamart").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc("column1").contains("INT64"))
    assert(desc("datetime").contains("civil datetime"))
    val tbl = spark.sql("DESCRIBE TABLE EXTENDED test_datamart").collect()
      .find(_.getString(0) == "Comment").map(_.getString(1))
    assert(tbl.exists(_.contains("datamart")))
    spark.sql("DROP TABLE test_datamart")
  }

  /** The sf0.01 data, beside the suite's sf0.001. */
  private val sf01 = sf.stripSuffix("sf0.001") + "sf0.01"

  /** (rows, hash) of a forced evaluation, as `Harness.evaluate` gives them. */
  private def answer(df: => org.apache.spark.sql.DataFrame): (Long, Long) = {
    val e = Harness.evaluate(spark)(df)
    (e.rows, e.hash)
  }

  private val injections = Seq(
    """x\') UNION ALL SELECT CAST(column1 AS BIGINT), parse_datetime(column2) FROM test_table --""",
    "a'b")

  test("a prepared call answers exactly as the query text with the id bound as :id") {
    val ids = Seq("13", "7", "10000001", "", "013", "+13", " 13", "十三", ReferencePipeline.IdMarker) ++ injections
    for (id <- ids) {
      val prepared = answer(ReferencePipeline.datamart(spark, sf, id))
      val text = answer(spark.sql(ReferencePipeline.DatamartSql, Map("id" -> id)))
      assert(prepared == text, s"id '$id'")
    }
    assert(answer(ReferencePipeline.datamart(spark, sf, "13"))._1 > 0)
  }

  test("a changed runtime conf re-prepares: the call's analyzed plan is the text path's") {
    def plans(id: String) = (ReferencePipeline.datamart(spark, sf, id).queryExecution.analyzed.canonicalized,
      spark.sql(ReferencePipeline.DatamartSql, Map("id" -> id)).queryExecution.analyzed.canonicalized)
    ReferencePipeline.datamart(spark, sf, "13").collect()
    val (before, _) = plans("13")
    val flipped = (!spark.conf.get("spark.sql.ansi.enabled").toBoolean).toString
    GraftSession.withConfs(spark, "spark.sql.ansi.enabled" -> flipped) {
      val (call, text) = plans("13")
      assert(call == text)
      assert(call != before, "toggling ANSI mode did not change the analyzed plan")
    }
    val (call, text) = plans("7")
    assert(call == text)
  }

  /** The files of the copy the registered `test_table` view reads, with their mtimes. */
  private def copyFiles(s: org.apache.spark.sql.SparkSession = spark): Map[String, Long] =
    s.table("test_table").inputFiles.map { f =>
      val p = new Path(f)
      f -> p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p).getModificationTime
    }.toMap

  test("the clustered copy holds exactly the source's rows") {
    for (dir <- Seq(sf, sf01)) {
      ReferencePipeline.register(spark, dir)
      assert(copyFiles().keys.forall(!_.contains("events.parquet")), "test_table does not read the copy")
      assert(answer(spark.table("test_table")) == answer(ReferencePipeline.testTable(spark, dir)), dir)
    }
  }

  test("a call pushes its id to the copy's scan and reads fewer rows than the source holds") {
    val dir = sf01
    val df = ReferencePipeline.datamart(spark, dir, "13")
    assert(df.queryExecution.executedPlan.toString.contains("EqualTo(id,13)"),
      df.queryExecution.executedPlan.toString)
    val sourceRows = Tables.events(spark, dir).count()
    val seen = SparkEvents.during(spark)(df.collect())
    assert(seen.recordsRead > 0 && seen.recordsRead < sourceRows / 2,
      s"read ${seen.recordsRead} of $sourceRows source rows")
  }

  test("re-registration reuses the written copy: no job, same files and mtimes") {
    ReferencePipeline.register(spark, sf)
    val files = copyFiles()
    assert(files.nonEmpty)
    ReferencePipeline.testTable(spark, sf).createOrReplaceTempView("test_table")
    assert(SparkEvents.during(spark)(ReferencePipeline.register(spark, sf)).jobs == 0)
    assert(copyFiles() == files)
    val fresh = spark.newSession()
    assert(SparkEvents.during(fresh)(ReferencePipeline.register(fresh, sf)).jobs == 0)
    assert(copyFiles(fresh) == files)
  }

  test("another time zone or a touched source file writes a new copy") {
    ReferencePipeline.register(spark, sf)
    val utc = copyFiles().keySet
    GraftSession.withConfs(spark, "spark.sql.session.timeZone" -> "America/Los_Angeles") {
      ReferencePipeline.register(spark, sf)
      assert(copyFiles().keySet.intersect(utc).isEmpty)
      assert(answer(spark.table("test_table")) == answer(ReferencePipeline.testTable(spark, sf)))
    }
    val dir = java.nio.file.Files.createTempDirectory("spec_events_")
    try {
      val src = dir.resolve("events.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"), src)
      ReferencePipeline.register(spark, dir.toString)
      val first = copyFiles().keySet
      assert(src.toFile.setLastModified(src.toFile.lastModified() + 60000L))
      val fresh = spark.newSession()
      assert(SparkEvents.during(fresh)(ReferencePipeline.register(fresh, dir.toString)).jobs > 0)
      assert(copyFiles(fresh).keySet.intersect(first).isEmpty)
      assert(column1(ReferencePipeline.datamart(fresh, dir.toString, "13")) == expected(sf, 13))
    } finally graft.queries.StorageQueries.deleteRecursively(dir.toFile)
  }

  test("type-conflict guard: existing view with the function's name raises") {
    import spark.implicits._
    Seq(1).toDF("x").createOrReplaceTempView("conflicted_name")
    val spec = ReferencePipeline.parseDatetimeSpec.copy(name = "conflicted_name")
    val e = intercept[IllegalStateException] {
      graft.udf.Materializer.materializeFunction(spark, spec, temporary = true)
    }
    assert(e.getMessage.contains("exists as a table/view"))
  }
}
