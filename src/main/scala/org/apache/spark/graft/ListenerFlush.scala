package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** `SparkContext.listenerBus` is `private[spark]`, but per-query metric
  * attribution needs a flush point: task-end events are delivered
  * asynchronously, so snapshotting listener-accumulated counters right
  * after an action returns would bleed a query's last tasks into the
  * next query's numbers. This is the same technique Spark's own test
  * utilities use (`SparkContext.listenerBus.waitUntilEmpty`), exposed
  * through a package-scoped shim rather than reflection so it breaks
  * loudly at compile time if the internal API moves.
  */
object ListenerFlush {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Drops a persisted RDD's blocks. `RDD.unpersist` does its work through
  * `SparkContext.unpersistRDD` (`private[spark]`), but first logs a
  * WARN for every locally checkpointed RDD ("lineage has been
  * truncated…") — one per checkpoint on every between-query reset and
  * every connected-components round, which buried the real warnings.
  * Both drop such blocks on purpose, once nothing reads them, so
  * checkpointed RDDs go straight to `unpersistRDD`; every other RDD
  * keeps `unpersist`. */
object BlockRelease {
  def drop(rdd: RDD[_]): Unit = rdd.checkpointData match {
    case Some(_: LocalRDDCheckpointData[_]) =>
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    case _ => rdd.unpersist(blocking = false)
  }
}
