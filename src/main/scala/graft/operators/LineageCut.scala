package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one eager lineage cut every iterative operator and batch-sized
  * admission seam shares ([[Dedup.connectedComponents]]'s label rounds,
  * [[Graph.pageRank]] / [[Graph.labelPropagation]] generations,
  * [[DedupState]]'s admission plans, [[graft.pipelines.CorpusPipeline]]'s
  * `admitBatch` ladder). Iterative DataFrame algorithms otherwise stack a
  * lineage of joins per round, and nested persisted layers make every
  * action re-walk and re-optimize the whole subtree, until planning
  * itself is the bottleneck; a cut materializes the frame once and
  * collapses it to a leaf everywhere it is referenced.
  *
  * The cut is a RELIABLE checkpoint when the session has a checkpoint
  * dir (`sc.setCheckpointDir`) — state survives executor loss, which
  * matters mid-iteration on a real cluster — and an executor-local
  * `localCheckpoint` otherwise (fine in local mode and for short jobs,
  * unrecoverable on executor loss — set a checkpoint dir at scale).
  */
private[graft] object LineageCut {

  def cut(df: DataFrame): DataFrame =
    if (reliable(df)) {
      // persist before the reliable cut: an eager checkpoint computes the
      // plan TWICE (the materializing action, then the checkpoint-file
      // write job) — the cache turns the second computation into a read,
      // and is released as soon as the files exist
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      val c = p.checkpoint(true)
      p.unpersist(false)
      c
    } else df.localCheckpoint(true)

  /** Free a superseded generation returned by [[cut]] once its successor
    * is materialized (the successor's cut severed the lineage, so the old
    * copy is dead weight). Reliable path: delete its checkpoint files —
    * Spark deletes them only under GC-driven reference tracking (off by
    * default), so without this every round leaks a generation into the
    * checkpoint dir, the same discipline as MLlib's PeriodicCheckpointer.
    * Local path: unpersist the checkpointed RDD's blocks directly —
    * localCheckpoint storage is RDD-level, which Dataset.unpersist
    * (cache-manager-only) never sees. The FINAL generation backs the
    * caller's result and must not be freed.
    */
  def free(df: DataFrame): Unit = {
    val rdd = df.queryExecution.optimizedPlan.collectFirst {
      case l: LogicalRDD => l.rdd
    }
    if (reliable(df)) rdd.flatMap(_.getCheckpointFile).foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
    else rdd.foreach(_.unpersist(blocking = false))
  }

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.getCheckpointDir.isDefined
}
