package graft.streaming

import org.apache.spark.sql.SparkSession

/** Per-batch block cleanup for the `foreachBatch` loops that
  * localCheckpoint their working frames (StreamNswInsert,
  * StreamSplit). */
object BatchBlocks {

  /** Run `f`, then free every block it left persisted (the batch
    * frame, store snapshots, the checkpoints operators take
    * internally) — without this a long-running follower accumulates
    * one set of checkpoint RDDs per micro-batch (the KCore round-leak
    * class). Only blocks created during `f` are freed: the session may
    * be shared with other streams or user-cached frames, and
    * unpersisting a foreign localCheckpoint (lineage already
    * truncated) makes that frame unrecoverable. */
  def freeAfter[A](spark: SparkSession)(f: => A): A = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try f
    finally spark.sparkContext.getPersistentRDDs.iterator
      .filter { case (id, _) => !before.contains(id) }
      .foreach { case (_, rdd) => rdd.unpersist(blocking = false) }
  }
}
