package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.execution.streaming.state.StateStore

/** Bridge to the `private[sql]` state-store registry of this JVM. */
object StateStoreBridge {
  /** Unloads every cached state-store provider: the unload half of
    * `StateStore.stop`, the standard teardown of Spark's own streaming
    * tests. A long-lived session that starts hundreds of streaming queries
    * otherwise keeps each run's loaded providers in executor memory until
    * the maintenance thread notices that the owning query is inactive,
    * measured as up to ~3× inflation of the stateful streaming rows in the
    * full-suite bench against the same queries run alone. Call it only
    * once the query is terminated.
    */
  def unloadAll(): Unit = StateStore.unloadAll()
}
