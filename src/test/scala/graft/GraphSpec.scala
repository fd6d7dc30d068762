package graft

import graft.queries.DedupQueries
import org.apache.spark.sql.functions._

class GraphSpec extends SparkTestBase {

  test("pagerank: top-20 is rank-sorted, positive, and fixed-point-consistent") {
    val rows = SparkEntry.queries("q_pagerank")(spark, sf).collect()
    assert(rows.length == 20)
    val fx = rows.map(_.getLong(2))
    assert(fx.toSeq == fx.sortBy(-_).toSeq, "rank_fx non-increasing")
    assert(fx.forall(_ > 0L), "all ranks positive")
    rows.foreach { r =>
      assert(r.getDouble(3) == r.getLong(2).toDouble / (1L << 40).toDouble,
             "rank is exactly rank_fx / 2^40")
    }
  }

  test("pagerank mass: integer floors only ever lose mass, never create it") {
    // each division floors, so after any iteration the total fixed-point
    // mass is ≤ the initial Fx budget — a creation bug (e.g. double
    // counting an edge) would push the sum ABOVE it
    val rows = SparkEntry.queries("q_pagerank")(spark, sf).collect()
    val topMass = rows.map(_.getLong(2)).sum
    assert(topMass <= (1L << 40), "top-20 mass alone must stay under the total budget")
  }

  test("triangles: counts satisfy the orientation invariants") {
    val r = SparkEntry.queries("q_triangles")(spark, sf).collect()(0)
    val (nodes, edges, wedges, tris) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(nodes > 0 && edges > 0, "graph non-empty")
    // orientation makes the edge list a DAG: wedges bound triangles, and
    // an undirected edge set can't exceed n(n-1)/2
    assert(tris <= wedges, "every triangle closes a wedge")
    assert(edges <= nodes * (nodes - 1) / 2, "simple-graph edge bound")
  }

  test("triangles: matches the unoriented closed-triple count on a planted graph") {
    import spark.implicits._
    // K4 ∪ a path: K4 has exactly 4 triangles, the path none. Feed the
    // oriented-count pipeline shape directly (pairs u<v, one per edge).
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), // K4
      (10L, 11L), (11L, 12L)) // path
    val e = edges.toDF("u", "v")
    val deg = e.select(col("u").as("x")).unionAll(e.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val ranked = e
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
    val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val o = ranked.select(
      when(fwd, col("u")).otherwise(col("v")).as("src"),
      when(fwd, col("v")).otherwise(col("u")).as("dst"))
    val w = o.select(col("src").as("a"), col("dst").as("b"))
      .join(o.select(col("src").as("b"), col("dst").as("c")), "b")
    val tris = w.join(o.select(col("src").as("a"), col("dst").as("c")),
                      Seq("a", "c"), "left_semi").count()
    assert(tris == 4L, s"K4 has exactly 4 triangles, got $tris")
  }

  test("star CC agrees with min-label propagation on hand graphs") {
    import spark.implicits._
    // two components (a 4-chain and a triangle) + the pair order scrambled
    val pairs = Seq((4L, 3L), (2L, 1L), (3L, 2L), (10L, 12L), (11L, 10L), (12L, 11L))
      .toDF("doc_a", "doc_b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = toMap(DedupQueries.propagateStarLabels(pairs))
    val minl = toMap(DedupQueries.propagateMinLabels(pairs)
      .where(col("doc_id") =!= col("label")))
    assert(star == Map(2L -> 1L, 3L -> 1L, 4L -> 1L, 11L -> 10L, 12L -> 10L))
    assert(star == minl, "the two CC algorithms must produce identical non-root labels")
  }

  test("star CC converges on a 300-node chain within its O(log n) round bound") {
    import spark.implicits._
    // a 300-chain has diameter 299: min-label would need ~299 sweeps, the
    // star alternation's own require(iters <= 30) enforces the log bound
    val chain = (2L to 300L).map(i => (i, i - 1)).toDF("doc_a", "doc_b")
    val labels = DedupQueries.propagateStarLabels(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 299)
    assert(labels.forall(_._2 == 1L),
      "every chain node must label to the component minimum")
  }
}
