package org.apache.spark.sql.graftbridge

import java.util.UUID

import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreId, StateStoreProviderId}

/** Test-side view of this JVM's `private[sql]` state-store registry. */
object StateStoreProbe {
  /** Whether the default store of operator 0's `partition` under
    * `stateRoot` (the qualified `<checkpoint>/state` path) is loaded for
    * the query run `runId`.
    */
  def isLoaded(stateRoot: String, partition: Int, runId: UUID): Boolean =
    StateStore.isLoaded(StateStoreProviderId(StateStoreId(stateRoot, 0L, partition), runId))
}
