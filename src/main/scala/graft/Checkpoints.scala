package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** The blocks behind a `localCheckpoint`ed frame. */
object Checkpoints {

  /** The RDD a checkpointed frame reads: its plan IS a LogicalRDD over
    * it. None for a frame that is not a checkpoint. */
  def rdd(ckpt: DataFrame): Option[RDD[_]] =
    ckpt.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  /** Unpersist exactly that RDD. Freeing this one RDD, rather than
    * diffing the session's persistent-RDD registry, never frees a
    * concurrent job's cache. */
  def release(ckpt: DataFrame): Unit = rdd(ckpt).foreach(_.unpersist(false))
}
