package graft.ops

import org.apache.spark.sql.{DataFrame, GraftStorage}
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of materialized steps. A step is a frame pinned by an
  * eager local checkpoint: its rows sit in executor blocks and its plan is
  * a scan of them, so later plans neither recompute nor nest its lineage.
  * Iterative operators and the streaming admission extensions carry state
  * from one step to the next with [[advance]]; one-shot callers [[pin]] a
  * frame whose read must finish before an overwrite, or that several
  * consumers share. A step's blocks stay until [[advance]] replaces it,
  * [[release]] drops it, or `graft.Driver.clearState` drops every
  * persisted RDD.
  */
object Steps {

  /** Materializes `df` now and returns the pinned frame. */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Pins `next`, then releases `prev`: the blocks of a pinned `prev`, or
    * the cache entry of a cached one. `next` may read `prev`; no other
    * live plan may.
    */
  def advance(prev: DataFrame, next: DataFrame): DataFrame = {
    val pinned = pin(next)
    release(prev)
    pinned
  }

  /** Releases `df`: the blocks of a pinned frame, or the cache entry of a
    * cached one. No live plan may still read it.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD =>
      GraftStorage.unpersistRDD(df.sparkSession.sparkContext, r.rdd.id, blocking = false)
    case _ => df.unpersist()
  }
}
