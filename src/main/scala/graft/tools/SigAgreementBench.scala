package graft.tools

import org.apache.spark.sql.functions._

/** Measured-evidence rig for the r18 est-jaccard change: per-candidate-pair
  * throughput of the one-pass [[graft.expressions.SignatureExpressions.SigAgreement]]
  * vs the sequence+filter combinator it replaced, at a candidate volume the
  * sf0.1 gates never reach (the ×100 stress legs do — candidate count, not
  * corpus size, is the axis this expression scales with). Pairs are
  * synthesized directly at signature grain so the measurement isolates the
  * per-pair expression cost from shingling/banding.
  *
  * Usage: runMain graft.tools.SigAgreementBench [nPairs] [reps]
  */
object SigAgreementBench {
  def main(args: Array[String]): Unit = {
    val nPairs = args.headOption.map(_.toLong).getOrElse(2000000L)
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    val perms = graft.functions.Hashing.NumPermsWide

    // deterministic 128-wide pseudo-signatures; ~half the positions agree
    val base = spark.range(nPairs)
      .select(col("id"),
        expr(s"transform(sequence(1, $perms), i -> (id * 2654435761 + i * 40503) % 4294967296)").as("sig_a"),
        expr(s"transform(sequence(1, $perms), i -> CASE WHEN i % 2 = 0 THEN (id * 2654435761 + i * 40503) % 4294967296 ELSE (id * 69069 + i) % 4294967296 END)").as("sig_b"))
      .persist()
    base.count()

    val newExpr = graft.dedup.Dedup.estJaccard(col("sig_a"), col("sig_b"), perms)
    val oldExpr = size(filter(sequence(lit(1), lit(perms)),
      i => element_at(col("sig_a"), i) === element_at(col("sig_b"), i)))
      .cast("double") / lit(perms.toDouble)

    def time(name: String, c: org.apache.spark.sql.Column): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val s = base.select(c.as("est")).agg(sum(col("est"))).head().getDouble(0)
        val sec = (System.nanoTime() - t0) / 1e9
        require(s > 0, "est sum must be positive")
        sec
      }
      println(f"$name: min ${times.min}%.3f s over $reps reps ($nPairs pairs, $perms perms) — ${times.map(t => f"$t%.3f").mkString(", ")}")
    }
    // interleaved so one contention window can't favor either arm
    for (_ <- 1 to reps) ()
    time("one-pass sig_agreement", newExpr)
    time("sequence+filter combinator", oldExpr)
    time("one-pass sig_agreement (2nd)", newExpr)
    time("sequence+filter combinator (2nd)", oldExpr)
    base.unpersist()

    // exact-jaccard arms (r18, same rationale): pre-distinct ~200-element
    // hash sets with ~50% overlap, the shingle-set verification shape
    val nJac = nPairs / 10
    val sets = spark.range(nJac)
      .select(col("id"),
        expr("array_distinct(transform(sequence(1, 200), i -> (id * 31 + i * 7919) % 100000))").as("hs_a"),
        expr("array_distinct(transform(sequence(1, 200), i -> (id * 31 + (i + 100) * 7919) % 100000))").as("hs_b"))
      .persist()
    sets.count()
    val newJac = graft.dedup.Dedup.jaccardLong(col("hs_a"), col("hs_b"))
    val oldJac = size(array_intersect(col("hs_a"), col("hs_b"))).cast("double") /
      size(array_union(col("hs_a"), col("hs_b"))).cast("double")
    def timeJac(name: String, c: org.apache.spark.sql.Column): Unit = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val s = sets.select(c.as("j")).agg(sum(col("j"))).head().getDouble(0)
        val sec = (System.nanoTime() - t0) / 1e9
        require(s > 0, "jaccard sum must be positive")
        sec
      }
      println(f"$name: min ${times.min}%.3f s over $reps reps ($nJac pairs, ~200-elem sets) — ${times.map(t => f"$t%.3f").mkString(", ")}")
    }
    timeJac("one-pass jaccard_sim", newJac)
    timeJac("intersect/union combinator", oldJac)
    timeJac("one-pass jaccard_sim (2nd)", newJac)
    timeJac("intersect/union combinator (2nd)", oldJac)
    spark.stop()
  }
}
