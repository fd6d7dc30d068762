package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.SessionCatalog

/** Bridge into a session's `private[sql]` catalog, for callers that need the
  * catalog's own instances (temp views, temp functions) rather than the
  * descriptive copies `spark.catalog` builds on every call.
  */
object CatalogBridge {
  def catalog(spark: SparkSession): SessionCatalog = spark.sessionState.catalog
}
