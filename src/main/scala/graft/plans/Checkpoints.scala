package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Release of checkpoints an iterative loop has superseded. Each
  * `localCheckpoint` registers its RDD's storage blocks until someone
  * unpersists them; a loop that replaces its state every round must
  * release the old round once the new one is materialized.
  */
object Checkpoints {

  /** Unregister a superseded checkpoint and drop its storage blocks
    * (a reliable checkpoint's files stay in the checkpoint dir). */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }
}
