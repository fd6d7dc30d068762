package graft.tools

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ×factor corpus synthesis: every table in [[Tables.names]], at full column
  * width, written to `outDir` from the base tables (never into the base
  * dir). [[ScaleStress]] grades per-query wall-time growth on it, and
  * `graft.Verify` + the DuckDB selfcheck can run end-to-end against it —
  * both engines read the SAME parquet, so that gate checks engine
  * agreement, not synthesis realism.
  *
  * Replicas are synthesized rather than naively duplicated, because
  * duplication would measure the wrong thing:
  *
  *   - embeddings are circularly rotated per replica (rotation preserves
  *     the norm and the coordinate distribution, but rotated vectors land
  *     in different LSH buckets) — exact copies would multiply every band
  *     bucket by `factor` and grow candidate PAIRS by `factor`², a data
  *     artifact, not an engine property;
  *   - document texts get a per-replica deterministic token shuffle
  *     (sort key = hash of token:position:replica). A near-identical pair
  *     inside one replica shuffles the same way (same tokens, same
  *     positions), so within-replica duplicate groups survive; across
  *     replicas almost every k-shingle is destroyed, so replicas are NOT
  *     near-dups of each other and the global near-dup pair count scales
  *     linearly. (A plain suffix token is NOT enough: it changes only ~k
  *     shingles, MinHash bands still collide across replicas, and pair
  *     volume — and any per-pair verification — grows quadratically with
  *     the factor; the first rig run caught exactly that as a 24×
  *     ngram-jaccard blowup at ×10.) Replica 0 keeps the base text;
  *   - doc_id, vec_id, event_id and user_id shift by `replica × 10⁷`,
  *     keeping the fixed ANN query set (vec_id < 10) at constant size while
  *     the corpus scales — the shape a production index has;
  *   - relational keys shift by `replica × (max(key) + 1)` in FK lockstep
  *     (o_orderkey with l_orderkey, o_custkey with c_custkey, l_suppkey
  *     with s_suppkey, l_partkey with p_partkey), so replica key spaces are
  *     disjoint and share no graph node: relationship structure and every
  *     join's per-replica result are identical to the base, and |edges|,
  *     |wedges|, |triangles| scale EXACTLY ×factor (naive duplication
  *     would multiply per-key join fan-out by factor²);
  *   - every other column replicates unchanged, so per-group medians, per-
  *     replica LWW argmaxes and per-key sums are invariant per replica
  *     while counts scale exactly ×factor;
  *   - region / nation copy VERBATIM: they are bounded dimension tables at
  *     any corpus size (the 100 TB shape — facts scale, geography does
  *     not), and replicating them would break their PK-uniqueness.
  *
  * Usage: runMain graft.tools.SynthCorpus [baseDir] [factor] [outDir]
  * (defaults: /root/testdata/sf0.1, 10, /tmp/graft_synth_x10)
  */
object SynthCorpus {

  /** Per-replica shift of the non-relational ids. */
  private val IdShift = 10000000L

  def synthesize(spark: SparkSession, baseDir: String, factor: Int, outDir: String): Unit = {
    def base(table: String): DataFrame = Tables.load(spark, baseDir, table)

    val om = base("orders").agg(max("o_orderkey").cast("long"), max("o_custkey").cast("long")).head()
    val cm = base("customer").agg(max("c_custkey").cast("long")).head()
    val lm = base("lineitem").agg(max("l_suppkey").cast("long"), max("l_partkey").cast("long")).head()
    // ckShift spans BOTH custkey domains (q_validate_contracts' FK check
    // joins orders to customer — the shift must keep replica key spaces
    // disjoint on both sides so the relationship structure, and the
    // violation count, is identical per replica) and is rounded up to a
    // multiple of 97 so the BFS seed rule (custkey % 97 == 0) commutes
    // with the replica shift: every replica then selects the same residue
    // coset, making per-replica seed sets and level counts structurally
    // identical to the base — the invariant the q_bfs_levels grading
    // comment relies on
    val ckMax = math.max(om.getLong(1), cm.getLong(0))
    val (okShift, ckShift) = (om.getLong(0) + 1, ((ckMax + 1 + 96) / 97) * 97)
    val (skShift, pkShift) = (lm.getLong(0) + 1, lm.getLong(1) + 1)
    // q_pagerank keeps customer and supplier node-id spaces apart by a fixed
    // 10^7 offset; shifted custkeys must stay below it
    require(ckShift * factor < 10000000L,
      s"custkey shift $ckShift × $factor collides with the supplier id space")
    val shifts = Map(
      "o_orderkey" -> okShift, "l_orderkey" -> okShift,
      "o_custkey" -> ckShift, "c_custkey" -> ckShift,
      "l_suppkey" -> skShift, "s_suppkey" -> skShift,
      "l_partkey" -> pkShift, "p_partkey" -> pkShift,
      "doc_id" -> IdShift, "vec_id" -> IdShift, "event_id" -> IdShift, "user_id" -> IdShift)

    // `rewrite` sees each base row once per replica, with the replica index
    // in `rep`; key columns shift after it, every column keeps its place
    def replicate(table: String, partitions: Int, rewrite: DataFrame => DataFrame = identity): Unit = {
      val df = base(table)
      val cols = df.columns.map(c => shifts.get(c).fold(col(c))(s => (col(c).cast("long") + col("rep") * s).as(c)))
      rewrite(df.select(col("*"), explode(sequence(lit(0), lit(factor - 1))).as("rep")))
        .select(cols.toIndexedSeq: _*)
        .repartition(partitions).write.mode("overwrite").parquet(s"$outDir/$table.parquet")
    }

    val shuffled = expr(
      """array_join(
        |  transform(
        |    array_sort(
        |      transform(split(text, '\\s+'),
        |                (t, i) -> named_struct(
        |                  'k', xxhash64(concat(t, ':', CAST(i AS STRING), ':', CAST(rep AS STRING))),
        |                  't', t))),
        |    s -> s.t),
        |  ' ')""".stripMargin)
    replicate("documents", 32, _
      .withColumn("text", when(col("rep") === 0, col("text")).otherwise(shuffled))
      .withColumn("n_chars", length(col("text")).cast("long")))
    val dim = graft.similarity.Vectors.Dim
    replicate("embeddings", 32, _.withColumn("embedding",
      expr(s"transform(embedding, (x, i) -> element_at(embedding, CAST((i + rep) % $dim AS INT) + 1))")
        .cast("array<float>")))
    Seq("customer", "orders", "lineitem", "events").foreach(replicate(_, 32))
    Seq("supplier", "part").foreach(replicate(_, 8))
    Seq("region", "nation").foreach { t =>
      base(t).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val outDir = args.lift(2).getOrElse("/tmp/graft_synth_x10")
    val spark = GraftSession.local(GraftSession.cpus, appName = "synth-corpus")
    synthesize(spark, baseDir, factor, outDir)
    val counts = Tables.names.map(t => s"$t=${spark.read.parquet(s"$outDir/$t.parquet").count()}")
    println(s"[synth-corpus] base=$baseDir factor=$factor out=$outDir ${counts.mkString(" ")}")
    spark.stop()
  }
}
