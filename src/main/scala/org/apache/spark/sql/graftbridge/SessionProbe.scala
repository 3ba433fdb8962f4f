package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Read-only probe of a session's artifact state, which lives behind the
  * classic session's `private[sql]` `artifactManager`. Like
  * [[PlanProbe]] it is a compile-time shim, not reflection. */
object SessionProbe {

  /** True when `s` runs its SQL jobs under a session-private artifact
    * state, that is, with its own executor class loader and so its own
    * generated-class cache. Reading it fixes the state: Spark computes it
    * once per session, from the session's artifact-isolation conf as it
    * stands at that moment. */
  def artifactIsolated(s: SparkSession): Boolean =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].artifactManager.state != null
}
