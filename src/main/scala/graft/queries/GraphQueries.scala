package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics beyond the connected-components dedup:
  * PageRank over the customer–supplier trade graph (an edge per distinct
  * (customer, supplier) pair that shares an order line, materialized in
  * BOTH directions so no node dangles).
  *
  * Determinism: rank mass flows as FIXED-POINT longs (2^40 scale) with
  * integer division everywhere — contribution `r div outdeg`, damping
  * `(sum × 85) div 100` — so per-node sums are exact and associative,
  * independent of partitioning/merge order, and bit-equal to the DuckDB
  * oracle's `//` arithmetic (a double formulation would make the
  * reduction order observable and break the hash compare). Magnitudes
  * stay far under 2^63: total mass ≈ 2^40, ×85 ≈ 2^47.
  *
  * Scale shape: the standard distributed PageRank loop — edges persisted
  * with out-degree attached, each of the 3 unrolled iterations is one
  * equi-join (ranks ⋈ edges on src) + one hash aggregation (sum by dst);
  * ranks are 16 bytes/node through every shuffle, vectors/payloads never
  * move. The driver never sees per-node data; top-20 leaves via
  * TakeOrderedAndProject.
  */
object GraphQueries {

  private val Fx = 1L << 40
  private val SuppOffset = 10000000L
  private val Iters = 3

  /** q_bfs_levels: unrolled hop count (the bipartite graph is fully
    * reached from any populated seed set in ~4 hops).
    */
  private val BfsHops = 3

  /** One BFS hop — the production building block q_bfs_levels iterates
    * (exposed so PlanSpec can pin its shape directly; the query's returned
    * plan is an eager localCheckpoint, which hides the iteration):
    * neighbors of the frontier, deduped, minus already-visited nodes via a
    * LEFT-ANTI equi-join (never a subtract scan), stamped with the level.
    * Everything that shuffles is (node, level) longs.
    */
  private[graft] def bfsExpand(edges: DataFrame, frontier: DataFrame,
                               visited: DataFrame, level: Long): DataFrame =
    edges.join(frontier.withColumnRenamed("node", "src"), "src")
      .select(col("dst").as("node")).distinct()
      .join(visited.select("node"), Seq("node"), "left_anti")
      .withColumn("level", lit(level))

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q_pagerank",
      (spark, dir) => {
        val pairs = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
                col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"),
                  (col("l_suppkey") + lit(SuppOffset)).as("supp"))
          .distinct()
        // both edge directions in ONE pass (map-side explode): the former
        // union of two selects re-ran the orders⋈lineitem join + distinct
        // once per branch, and the groupBy-deg + join-back below doubled it
        // again — the pairs subtree executed 4× before `ed` materialized
        val edges = pairs
          .select(explode(array(
            struct(col("cust").as("src"), col("supp").as("dst")),
            struct(col("supp").as("src"), col("cust").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
        // out-degree via ONE window over the single edge pass — same value
        // as the former groupBy(src).count + equi-join-back, minus that
        // join's second traversal of the edge subtree and its extra
        // exchange (guide §2.4: two operations keyed the same way share
        // one exchange)
        val ed = edges.withColumn("outdeg",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("src")))).persist()
        // persist + eager count: the edge list with out-degree attached is
        // read once per iteration (at cluster scale this is the
        // materialized adjacency table, partitioned by src)
        ed.count()
        val nodes = ed.select(col("src").as("node")).distinct()
        val nn = nodes.agg(count(lit(1)).as("n"))
        val tele = nn.select(expr(s"(($Fx * 15) div 100) div n").as("tp"))
        val r0 = nodes.crossJoin(broadcast(nn)).select(col("node"), expr(s"$Fx div n").as("r"))
        def step(r: DataFrame): DataFrame =
          ed.join(r.withColumnRenamed("node", "src"), "src")
            .select(col("dst").as("node"), expr("r div outdeg").as("contrib"))
            .groupBy(col("node"))
            .agg(sum(col("contrib")).as("csum"))
            .crossJoin(broadcast(tele))
            .select(col("node"), (col("tp") + expr("(csum * 85) div 100")).as("r"))
        val rFinal = Iterator.iterate(r0)(step).drop(Iters).next()
        rFinal.orderBy(col("r").desc, col("node").asc).limit(20)
          .select(col("node"),
                  when(col("node") >= SuppOffset, lit("supplier"))
                    .otherwise(lit("customer")).as("node_type"),
                  col("r").as("rank_fx"),
                  (col("r").cast("double") / lit(Fx.toDouble)).as("rank"))
      },
      Some {
        def stepSql(prev: String, out: String) =
          s"""$out AS (
             |  SELECT ed.dst AS node, tp + (SUM($prev.r // ed.outdeg) * 85) // 100 AS r
             |  FROM ed JOIN $prev ON ed.src = $prev.node, tele
             |  GROUP BY ed.dst, tp
             |)""".stripMargin
        s"""WITH pairs AS (
           |  SELECT DISTINCT o_custkey AS cust, l_suppkey + $SuppOffset AS supp
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |),
           |edges AS (
           |  SELECT cust AS src, supp AS dst FROM pairs
           |  UNION ALL
           |  SELECT supp AS src, cust AS dst FROM pairs
           |),
           |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
           |ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src),
           |nodes AS (SELECT DISTINCT src AS node FROM edges),
           |nn AS (SELECT COUNT(*) AS n FROM nodes),
           |tele AS (SELECT (($Fx * 15) // 100) // n AS tp FROM nn),
           |r0 AS (SELECT node, $Fx // n AS r FROM nodes, nn),
           |${stepSql("r0", "r1")},
           |${stepSql("r1", "r2")},
           |${stepSql("r2", "r3")}
           |SELECT node,
           |       CASE WHEN node >= $SuppOffset THEN 'supplier' ELSE 'customer' END AS node_type,
           |       CAST(r AS BIGINT) AS rank_fx,
           |       CAST(r AS DOUBLE) / CAST($Fx AS DOUBLE) AS rank
           |FROM r3 ORDER BY r DESC, node ASC LIMIT 20""".stripMargin
      }
    ),

    // triangle counting over the part co-purchase graph (edge = two parts
    // on the same urgent order), the classic "compact-forward" distributed
    // formulation: orient every edge from the lower-(degree, id) endpoint
    // to the higher, so each triangle is counted exactly once AND the
    // wedge-join fan-out is bounded by the oriented out-degree (≤ O(√m)
    // for any graph — the one trick that makes distributed triangle
    // counting survive power-law degrees). Pipeline: per-order pair
    // generation is MAP-SIDE (sorted distinct part array → slice/transform
    // combinations, the text_cooccurrence_pmi idiom — no order-keyed
    // self-join), the wedge join and closure check are two equi-joins on
    // oriented edges; everything through every shuffle is a pair of longs.
    // The priority filter thins the graph so the oracle's quadratic-ish
    // batch join stays cheap; the Spark path is insensitive to it.
    QueryDef(
      "q_triangles",
      (spark, dir) => {
        val po = Tables.orders(spark, dir)
          .where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
          .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey")),
                col("o_orderkey") === col("l_orderkey"))
          .select(col("o_orderkey").as("ok"), col("l_partkey").as("p"))
        // persist + eager count: the distinct edge set feeds the degree
        // pass, the orientation join AND the final n_nodes count — without
        // the cache the per-order pair generation (groupBy + collect_set +
        // combination explode + distinct) re-ran once per consumer
        val pairs = po.groupBy(col("ok"))
          .agg(array_sort(collect_set(col("p"))).as("ps"))
          .select(explode(expr(
            "flatten(transform(ps, (a, i) -> transform(slice(ps, i + 2, size(ps)), b -> struct(a AS u, b AS v))))"))
            .as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"))
          .distinct()
          .persist()
        pairs.count()
        // both endpoints in ONE pass over the cached edges (map-side
        // explode) instead of a two-branch unionAll
        val deg = pairs.select(explode(array(col("u"), col("v"))).as("x"))
          .groupBy(col("x")).agg(count(lit(1)).as("d"))
        val ranked = pairs
          .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
          .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
        val fwd = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
        val oriented = ranked
          .select(when(fwd, col("u")).otherwise(col("v")).as("src"),
                  when(fwd, col("v")).otherwise(col("u")).as("dst"))
          .persist()
        // eager count: the final four-aggregate plan references oriented
        // from four subtrees evaluated in one job — materialize the cache
        // once up front instead of racing the first touch
        oriented.count()
        val wedges = oriented.select(col("src").as("a"), col("dst").as("b"))
          .join(oriented.select(col("src").as("b"), col("dst").as("c")), "b")
        // wedge count and triangle count from ONE execution of the wedge
        // self-join (r18, guide §1.2): the closure check rides a LEFT join
        // against the (distinct — `pairs` is distinct and orientation maps
        // each pair to exactly one edge) oriented set, so the join
        // preserves wedge cardinality and count(closed) equals the former
        // LEFT-SEMI count. The previous shape ran the wedge join twice:
        // once under n_wedges, once under the semi-joined n_triangles.
        val wstats = wedges
          .join(oriented.select(col("src").as("a"), col("dst").as("c"),
                                lit(1).as("closed")), Seq("a", "c"), "left")
          .agg(count(lit(1)).as("n_wedges"),
               count(col("closed")).as("n_triangles"))
        // one declarative plan: the counts cross-join (each side is a
        // single row) — no scalar ever lands on the driver mid-query, and
        // the persisted oriented edge list is read by all three consumers
        deg.agg(count(lit(1)).as("n_nodes"))
          .crossJoin(oriented.agg(count(lit(1)).as("n_edges")))
          .crossJoin(wstats)
          .select(col("n_nodes"), col("n_edges"),
                  col("n_wedges"), col("n_triangles"))
      },
      Some("""WITH po AS (
             |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  WHERE o_orderpriority = '1-URGENT'
             |),
             |e AS (
             |  SELECT DISTINCT a.p AS u, b.p AS v
             |  FROM po a JOIN po b ON a.ok = b.ok AND a.p < b.p
             |),
             |deg AS (
             |  SELECT x, COUNT(*) AS d
             |  FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e)
             |  GROUP BY x
             |),
             |o AS (
             |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
             |              THEN e.u ELSE e.v END AS src,
             |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
             |              THEN e.v ELSE e.u END AS dst
             |  FROM e JOIN deg du ON e.u = du.x JOIN deg dv ON e.v = dv.x
             |),
             |w AS (
             |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
             |  FROM o e1 JOIN o e2 ON e1.dst = e2.src
             |)
             |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
             |       (SELECT COUNT(*) FROM o) AS n_edges,
             |       (SELECT COUNT(*) FROM w) AS n_wedges,
             |       (SELECT COUNT(*) FROM w
             |        WHERE EXISTS (SELECT 1 FROM o WHERE o.src = w.a AND o.dst = w.c)
             |       ) AS n_triangles""".stripMargin)
    ),

    // breadth-first search levels over the trade graph — the third graph
    // primitive (after rank flow and triangle counting): min-hop distance
    // from a deterministic seed set (customers with custkey % 97 = 0),
    // BfsHops hops unrolled. Each hop is one equi-join (edges ⋈ frontier
    // on src) + distinct + LEFT-ANTI against the visited set — the
    // frontier-expansion shape whose per-hop shuffle carries only (node,
    // level) longs, never adjacency payloads; first-reach IS min-level by
    // the BFS property, so no per-node min aggregation exists. The oracle
    // walks the same graph through a recursive CTE (UNION-dedup on
    // (node, level), then MIN(level) per node — a completely different
    // algorithm shape) and must land on identical per-level counts and
    // id checksums. On the bipartite graph odd levels are suppliers and
    // even levels customers, which the id-sum checksum (SuppOffset-
    // shifted) verifies implicitly.
    QueryDef(
      "q_bfs_levels",
      (spark, dir) => {
        val pairs = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
          .join(Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")),
                col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("cust"),
                  (col("l_suppkey") + lit(SuppOffset)).as("supp"))
          .distinct()
        // both directions in ONE pass (map-side explode) — the former
        // two-select union re-ran the orders⋈lineitem join + distinct per
        // branch (see q_pagerank)
        val edges = pairs
          .select(explode(array(
            struct(col("cust").as("src"), col("supp").as("dst")),
            struct(col("supp").as("src"), col("cust").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          .persist()
        edges.count()
        // seeds from the CACHED edges, not a third traversal of the pairs
        // subtree: customers are exactly the src nodes below SuppOffset
        val seeds = edges.select(col("src").as("node"))
          .where(col("node") < SuppOffset).distinct()
          .where(pmod(col("node"), lit(97)) === 0)
        // visited is the UNION of the per-level frontiers, each cached once
        // and live until the end — so there are no superseded generations to
        // chase: no chained visited persists, no re-count of a growing
        // union, and every cached block is released after the final
        // aggregate is pinned. (An earlier formulation persisted the grown
        // union each hop: one extra materialization per level for blocks
        // that were all dropped minutes later.)
        val level0 = seeds.withColumn("level", lit(0L)).persist()
        level0.count()
        val levels = scala.collection.mutable.ListBuffer[DataFrame](level0)
        var frontier = seeds
        for (l <- 1 to BfsHops) {
          val visited = levels.reduce(_.unionByName(_))
          val next = bfsExpand(edges, frontier, visited, l.toLong).persist()
          next.count() // materialize from the cached levels before reuse
          levels += next
          frontier = next.select("node")
        }
        // eager localCheckpoint pins the tiny (≤ hops+1 rows) result so every
        // cached block backing it can be released before the caller evaluates
        // — in a long-lived session (Verify/Bench run every query) lingering
        // blocks would otherwise evict other queries' cache
        val result = levels.reduce(_.unionByName(_)).groupBy(col("level"))
          .agg(count(lit(1)).cast("long").as("n_nodes"),
               sum(col("node")).cast("long").as("sum_ids"))
          .localCheckpoint(true)
        levels.foreach(_.unpersist())
        edges.unpersist()
        result
      },
      Some(s"""WITH RECURSIVE pairs AS (
              |  SELECT DISTINCT o_custkey AS cust, l_suppkey + $SuppOffset AS supp
              |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              |),
              |edges AS (
              |  SELECT cust AS src, supp AS dst FROM pairs
              |  UNION ALL
              |  SELECT supp AS src, cust AS dst FROM pairs
              |),
              |bfs AS (
              |  SELECT cust AS node, 0 AS level
              |  FROM (SELECT DISTINCT cust FROM pairs) WHERE cust % 97 = 0
              |  UNION
              |  SELECT e.dst, b.level + 1 FROM bfs b JOIN edges e ON e.src = b.node
              |  WHERE b.level < $BfsHops
              |),
              |lv AS (SELECT node, MIN(level) AS level FROM bfs GROUP BY 1)
              |SELECT CAST(level AS BIGINT) AS level, COUNT(*) AS n_nodes,
              |       CAST(SUM(node) AS BIGINT) AS sum_ids
              |FROM lv GROUP BY 1""".stripMargin)
    )
  )
}
