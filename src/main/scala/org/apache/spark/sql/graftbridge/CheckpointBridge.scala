package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** The RDDs behind the `LogicalRDD` leaves of a frame's plan — for a
  * `localCheckpoint`ed frame, the RDD that holds its blocks.
  * `Dataset.unpersist()` only consults the `CacheManager`, which never
  * sees a checkpoint, so `rdd.unpersist()` on these is the only way to
  * free one before a driver GC lets the `ContextCleaner` do it.
  * `LogicalRDD` is `private[sql]` — same pattern as [[StatsBridge]]. */
object CheckpointBridge {
  def leafRdds(df: DataFrame): Seq[RDD[_]] =
    df.asInstanceOf[Dataset[_]].queryExecution.logical
      .collectWithSubqueries { case lr: LogicalRDD => lr.rdd }
}
