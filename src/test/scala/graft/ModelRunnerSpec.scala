package graft

import graft.udf.{Materialization, Model, ModelDocs, ModelRunner}
import org.apache.spark.sql.functions._

class ModelRunnerSpec extends SparkTestBase {

  private def m(name: String, refs: String*)(b: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame) =
    Model(name, refs, b)

  test("levels: topological order with independent models in the same level") {
    val runner = new ModelRunner(Seq(
      m("a")(_.range(1).toDF()),
      m("b")(_.range(1).toDF()),
      m("c", "a", "b")(_.range(1).toDF()),
      m("d", "c")(_.range(1).toDF())
    ))
    assert(runner.levels(Seq.empty).isEmpty)
    val levels = runner.levels(Seq(Model("d", Seq("c"), _.range(1).toDF())))
    assert(levels.map(_.map(_.name).toSet) == Seq(Set("a", "b"), Set("c"), Set("d")))
  }

  test("cycle detection raises") {
    val runner = new ModelRunner(Seq(
      m("x", "y")(_.range(1).toDF()),
      m("y", "x")(_.range(1).toDF())
    ))
    intercept[IllegalArgumentException] {
      runner.levels(Seq(Model("x", Seq("y"), _.range(1).toDF())))
    }
  }

  test("unknown ref raises at construction") {
    intercept[IllegalArgumentException] {
      new ModelRunner(Seq(m("a", "ghost")(_.range(1).toDF())))
    }
  }

  test("run materializes views in dependency order and selection pulls upstream closure") {
    val events = Tables.events(spark, sf)
    events.createOrReplaceTempView("mr_events")
    val runner = new ModelRunner(Seq(
      m("mr_base") { s => s.table("mr_events").select("user_id", "event_type", "value") },
      m("mr_purchases", "mr_base") { s => s.table("mr_base").filter(col("event_type") === "purchase") },
      m("mr_spend", "mr_purchases") { s =>
        s.table("mr_purchases").groupBy("user_id").agg(sum("value").as("spend"))
      }
    ))
    // selecting only the leaf builds the whole upstream chain
    val built = runner.run(spark, runner.selectByName("mr_spend"))
    assert(built.keySet == Set("mr_base", "mr_purchases", "mr_spend"))
    assert(spark.table("mr_spend").count() > 0)
    // the view chain gives the same answer as the direct computation
    val direct = events.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(sum("value").as("spend"))
    assert(spark.table("mr_spend").except(direct).isEmpty)
    assert(direct.except(spark.table("mr_spend")).isEmpty)
  }

  test("table materialization persists to the warehouse catalog") {
    val runner = new ModelRunner(Seq(
      Model("mr_tbl", Nil, s => s.range(5).toDF("n"), Materialization.Table)
    ))
    runner.run(spark)
    assert(spark.catalog.tableExists("mr_tbl"))
    assert(spark.table("mr_tbl").count() == 5)
    spark.sql("DROP TABLE mr_tbl")
  }

  test("persist_docs: table + column comments survive materialization (DESCRIBE shows them)") {
    val runner = new ModelRunner(Seq(
      Model("mr_doc_tbl", Nil,
            s => s.range(3).toDF("n").withColumn("twice", col("n") * 2),
            Materialization.Table,
            docs = ModelDocs(
              description = Some("it's a documented table"),
              columns = Map("n" -> "the id", "twice" -> "id doubled")))
    ))
    runner.run(spark)
    val desc = spark.sql("DESCRIBE TABLE mr_doc_tbl").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc("n") == "the id")
    assert(desc("twice") == "id doubled")
    val tblComment = spark.sql("DESCRIBE TABLE EXTENDED mr_doc_tbl").collect()
      .find(_.getString(0) == "Comment").map(_.getString(1))
    assert(tblComment.contains("it's a documented table"))
    spark.sql("DROP TABLE mr_doc_tbl")
  }

  test("persist_docs: a table comment with quotes and backslashes persists verbatim") {
    val text = """it's under C:\docs\ and says \'hi\'\"""
    new ModelRunner(Seq(
      Model("mr_esc_tbl", Nil, s => s.range(1).toDF("n"), Materialization.Table,
            docs = ModelDocs(description = Some(text)))
    )).run(spark)
    val tblComment = spark.sql("DESCRIBE TABLE EXTENDED mr_esc_tbl").collect()
      .find(_.getString(0) == "Comment").map(_.getString(1))
    assert(tblComment.contains(text))
    spark.sql("DROP TABLE mr_esc_tbl")
  }

  test("selectChanged rebuilds changed models plus transitive dependents only") {
    def models(sigB: String) = Seq(
      Model("ch_a", Nil, _.range(1).toDF(), signature = "a-v1"),
      Model("ch_b", Seq("ch_a"), s => s.table("ch_a"), signature = sigB),
      Model("ch_c", Seq("ch_b"), s => s.table("ch_b"), signature = "c-v1"),
      Model("ch_d", Nil, _.range(1).toDF(), signature = "d-v1")
    )
    val prev = new ModelRunner(models("b-v1")).fingerprints
    // nothing changed -> nothing selected
    val same = new ModelRunner(models("b-v1")).selectChanged(prev)
    assert(models("b-v1").count(same) == 0)
    // b changed -> b and its dependent c, but not a (upstream) or d (unrelated)
    val sel = new ModelRunner(models("b-v2")).selectChanged(prev)
    assert(models("b-v2").filter(sel).map(_.name).toSet == Set("ch_b", "ch_c"))
    // a brand-new model (absent from prev) counts as changed
    val withNew = models("b-v1") :+ Model("ch_e", Nil, _.range(1).toDF(), signature = "e-v1")
    val selNew = new ModelRunner(withNew).selectChanged(prev)
    assert(withNew.filter(selNew).map(_.name).toSet == Set("ch_e"))
  }
}
