package graft.udf

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.graftbridge.CatalogBridge

import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Documentation persisted with a materialized model — the port of dbt's
  * `+persist_docs: {relation: true, columns: true}`
  * (/root/reference/dbt_project.yml:41-43 routed over the schema.yml
  * descriptions at /root/reference/models/datamart/schema.yml:6-10).
  */
final case class ModelDocs(
    description: Option[String] = None,
    columns: Map[String, String] = Map.empty
)

/** A declared transformation node — the Spark-native form of a dbt model.
  *
  * `refs` replaces dbt's `{{ ref(...) }}` DAG edges
  * (/root/reference/models/udf/table_function/test_table_function.sql:10-12);
  * `tags` replaces `+tags:` routing (/root/reference/dbt_project.yml:37,45);
  * `materialization` replaces dbt's `+materialized:` — `View` registers a
  * temp view (zero storage; Catalyst inlines it), `Table` persists via
  * `saveAsTable` (the port of the reference's CTAS datamart, SURVEY.md §2 O10);
  * `docs` persists relation+column comments on Table models; `signature` is
  * the model's content fingerprint (any stable digest of its logic —
  * dbt hashes the rendered SQL) consumed by
  * [[ModelRunner.selectChanged]] for changed-model-only rebuilds
  * (/root/reference/README.md:322-327).
  */
final case class Model(
    name: String,
    refs: Seq[String],
    build: SparkSession => DataFrame,
    materialization: Materialization = Materialization.View,
    tags: Set[String] = Set.empty,
    docs: ModelDocs = ModelDocs(),
    signature: String = ""
)

sealed trait Materialization
object Materialization {
  case object View extends Materialization
  case object Table extends Materialization
}

/** Topo-ordered, level-parallel model materializer — the port of dbt's
  * selective/parallel DAG build (SURVEY.md §2 O18; the reference's run log
  * shows "Concurrency: 8 threads"). Independent models in the same
  * topological level materialize concurrently; Spark's scheduler
  * interleaves their jobs across executor slots.
  *
  * Most ordering needs vanish on Spark: only *materialization boundaries*
  * (tables) actually execute; views are lazy and inlined. The runner exists
  * for those boundaries and for selective rebuilds.
  */
final class ModelRunner(models: Seq[Model]) {
  private val byName = models.map(m => m.name -> m).toMap
  require(byName.size == models.size, "duplicate model names")
  models.foreach { m =>
    m.refs.foreach { r =>
      require(byName.contains(r), s"model ${m.name} refs unknown model '$r'")
    }
  }

  /** Topological levels (Kahn); models within a level are independent. */
  def levels(selected: Seq[Model]): Seq[Seq[Model]] = {
    // include upstream closure of the selection
    val needed = scala.collection.mutable.Set.empty[String]
    def visit(n: String): Unit =
      if (needed.add(n)) byName(n).refs.foreach(visit)
    selected.foreach(m => visit(m.name))
    var remaining = models.filter(m => needed.contains(m.name))
    val out = Seq.newBuilder[Seq[Model]]
    val done = scala.collection.mutable.Set.empty[String]
    while (remaining.nonEmpty) {
      val (ready, blocked) = remaining.partition(_.refs.forall(done.contains))
      require(ready.nonEmpty, s"cycle among models: ${blocked.map(_.name).mkString(", ")}")
      out += ready
      done ++= ready.map(_.name)
      remaining = blocked
    }
    out.result()
  }

  /** Materialize the selected models (default: all) in dependency order,
    * parallel within each level. Returns the built DataFrames by name.
    */
  def run(
      spark: SparkSession,
      select: Model => Boolean = _ => true,
      parallelism: Int = 8
  ): Map[String, DataFrame] = {
    val pool = Executors.newFixedThreadPool(parallelism)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val built = scala.collection.mutable.Map.empty[String, DataFrame]
      levels(models.filter(select)).foreach { level =>
        val fs = level.map { m =>
          Future {
            val df = m.build(spark)
            m.materialization match {
              case Materialization.View =>
                df.createOrReplaceTempView(m.name)
              case Materialization.Table =>
                ModelRunner.clearOrphanedLocation(spark, m.name)
                withColumnComments(df, m.docs).write.mode("overwrite").saveAsTable(m.name)
                m.docs.description.foreach { d =>
                  spark.sql(s"COMMENT ON TABLE ${m.name} IS '${Materializer.escape(d)}'")
                }
            }
            m.name -> df
          }
        }
        built ++= Await.result(Future.sequence(fs), Duration.Inf)
      }
      built.toMap
    } finally pool.shutdown()
  }

  def selectByTag(tag: String): Model => Boolean = _.tags.contains(tag)
  def selectByName(names: String*): Model => Boolean = {
    val s = names.toSet; m => s.contains(m.name)
  }

  /** The current content fingerprints — record these after a successful run
    * and feed them back to [[selectChanged]] next time.
    */
  def fingerprints: Map[String, String] = models.map(m => m.name -> m.signature).toMap

  /** Changed-model-only rebuild (the port of dbt's `state:modified+`
    * selection, reference README.md:322-327): selects every model whose
    * signature differs from the recorded `previous` fingerprint (new models
    * included) PLUS its transitive dependents — a changed model invalidates
    * everything built on top of it. Upstream closure is already pulled in by
    * [[levels]], so unchanged parents rebuild only when a selected child
    * needs them.
    */
  def selectChanged(previous: Map[String, String]): Model => Boolean = {
    // an empty signature means "no fingerprint declared" — such models must
    // always rebuild (otherwise "" == recorded "" silently skips real edits)
    val changed = models
      .filter(m => m.signature.isEmpty || !previous.get(m.name).contains(m.signature))
      .map(_.name).to(scala.collection.mutable.Set)
    val dependents = models.flatMap(m => m.refs.map(_ -> m.name))
      .groupMap(_._1)(_._2)
    def spread(n: String): Unit =
      dependents.getOrElse(n, Nil).foreach(d => if (changed.add(d)) spread(d))
    changed.toSeq.foreach(spread)
    m => changed.contains(m.name)
  }

  /** Attach column comments to the schema before `saveAsTable` so
    * `DESCRIBE` shows them (the Spark form of dbt's `persist_docs:
    * {columns: true}` — BigQuery needed inline DDL OPTIONS because
    * functions can't be ALTERed, reference README.md:344-380; Spark
    * carries comments in StructField metadata).
    */
  private def withColumnComments(df: DataFrame, docs: ModelDocs): DataFrame =
    if (docs.columns.isEmpty) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(df.schema.fieldNames.toIndexedSeq.map { n =>
        docs.columns.get(n) match {
          case Some(c) =>
            val meta = new org.apache.spark.sql.types.MetadataBuilder()
              .putString("comment", c).build()
            col(n).as(n, meta)
          case None => col(n)
        }
      }: _*)
    }
}

object ModelRunner {

  /** A Table model is create-or-replace, but `saveAsTable` refuses to create
    * a table whose default location is a non-empty directory
    * (`LOCATION_ALREADY_EXISTS`). An earlier process leaves exactly that when
    * its catalog (in-memory by default) is gone but the warehouse kept the
    * table's files. So when the catalog knows no table at `name`, whatever
    * sits at that table's own default location is an orphan, and is removed.
    */
  private[graft] def clearOrphanedLocation(spark: SparkSession, name: String): Unit = {
    val catalog = CatalogBridge.catalog(spark)
    val ident = CatalystSqlParser.parseTableIdentifier(name)
    if (!catalog.tableExists(ident)) {
      val dir = new Path(catalog.defaultTablePath(ident))
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(dir)) fs.delete(dir, true)
    }
  }
}
