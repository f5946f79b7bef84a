package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD

/** Bridge to the `private[spark]` block release behind `RDD.unpersist`. */
object BlockBridge {
  /** Drop `rdd`'s cached blocks without blocking and without the warning
    * `RDD.unpersist` logs for a locally checkpointed RDD. */
  def unpersist(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
