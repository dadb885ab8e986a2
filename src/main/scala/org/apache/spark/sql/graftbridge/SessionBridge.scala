package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shim into two `private[sql]` session APIs, used to scope per-query conf
  * overrides (`graft.streaming.Streams.runToMemory`) to a cloned session
  * instead of mutating the caller's — a session-global mutate-and-restore
  * would leak the override to any concurrent query on the same session —
  * and into the `private[spark]` listener bus and RDD release.
  */
object SessionBridge {

  /** Clone a session: shares the SparkContext and shared state (cache,
    * listeners), copies the session conf and temp views at clone time;
    * conf changes made on the clone afterwards are invisible to the
    * parent. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Rebind a DataFrame's logical plan to another session, so execution
    * picks up that session's conf (shuffle partitions, etc.). */
  def rebind(df: DataFrame, to: SparkSession): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      to.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      df.queryExecution.logical)

  /** Block until the listener bus has delivered every event posted so far;
    * the bus is asynchronous, so a listener may otherwise miss the events
    * of a query that just returned. */
  def drainListenerBus(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()

  /** Unpersist `rdd`, blocking. A `localCheckpoint`ed RDD is released
    * through the context: `RDD.unpersist` logs a WARN for each one that
    * its truncated lineage cannot be recomputed, which a release that
    * drops such blocks on purpose does not need to say. A later read of
    * it still fails loudly (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`). */
  def unpersist(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.checkpointData match {
      case Some(_: org.apache.spark.rdd.LocalRDDCheckpointData[_]) =>
        rdd.sparkContext.unpersistRDD(rdd.id, blocking = true)
      case _ => rdd.unpersist(blocking = true)
    }
}
