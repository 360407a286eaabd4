package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Frees a frame materialized by `Dataset.localCheckpoint` or
  * `Shim.hashPartitionedCheckpoint`: a local checkpoint is a persisted
  * RDD behind the frame's `LogicalRDD` root, which `Dataset.unpersist()`
  * does not touch.
  */
object Checkpoints {

  /** Unpersists the RDD behind `frame`'s `LogicalRDD` root. Pass the
    * checkpointed frame itself, not a frame derived from it (anything
    * else is left alone: its blocks may back other frames). Reading
    * the frame after release throws: a local checkpoint cannot be
    * recomputed.
    */
  def release(frame: DataFrame): Unit =
    frame.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
}
