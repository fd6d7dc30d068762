package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named, oracle-checked query: the Spark build plus (when expressible)
  * the equivalent ANSI SQL the driver runs in DuckDB over the same parquet
  * tables. Column aliases MUST match between the two — the driver's compare
  * sorts columns by name before hashing values.
  *
  * The cache contract: a build may persist and unpersist what it creates;
  * it never clears the session's cache and touches no entry it did not
  * create. Whoever evaluates the query owns the cache: every main runs a
  * query inside `graft.Harness.scope`, which clears it before and after.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

/** A gate's input lacks the volume its checks need, so running it would
  * grade nothing. A gate with a volume precondition checks it up front and
  * throws this, naming the gate and the reason, before any graded work.
  * Verify and Bench count it as a failure like any other throw;
  * `tools.ScaleStress` lists the gate under `"skipped"` with [[reason]].
  */
final class UnmetPrecondition(val gate: String, val reason: String)
    extends IllegalStateException(s"$gate precondition unmet: $reason")
