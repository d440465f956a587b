package org.apache.spark.sql

/** Rebinds a frame to another session of the same `SparkContext`: the
  * frame's analyzed plan, planned and executed under the target session's
  * conf. `Dataset.ofRows` is package-private, hence this shim's package.
  * Cached data is found across the two sessions because both share the
  * context's `SharedState`.
  */
object SessionRebind {
  def rebind(frame: Dataset[_], session: SparkSession): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      frame.asInstanceOf[classic.Dataset[_]].logicalPlan)
}
