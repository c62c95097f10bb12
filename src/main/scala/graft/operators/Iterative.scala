package graft.operators

import org.apache.spark.sql.Dataset

/** Shared plumbing for iterative DataFrame/Dataset loops (connected
  * components' label propagation, k-means|| oversampling): each round
  * checkpoints to truncate lineage, and the PREVIOUS round's storage must
  * then be released explicitly or up to maxIters table copies accumulate
  * in executor storage memory for the life of the session.
  *
  * `Dataset.unpersist` only clears cache-manager entries — a checkpointed
  * frame's blocks live on the RDD inside its `LogicalRDD` leaf, so that
  * RDD is what must be unpersisted. (No-op for reliable checkpoints,
  * whose files the ContextCleaner reclaims when the RDD is collected.)
  */
private[operators] object Iterative {

  /** Eager, lineage-truncating checkpoint of one round's frame: RELIABLE
    * (checkpoint-dir backed, survives executor loss) when the session has
    * a checkpoint dir set, executor-local otherwise — the single-JVM fast
    * path.
    */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint(eager = true)
    else ds.localCheckpoint(eager = true)

  def releaseCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.logical.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))
}
