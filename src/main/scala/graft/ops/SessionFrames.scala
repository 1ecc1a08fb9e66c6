package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Frames persisted once per (session, key) and shared by every request
  * of a long-lived serving session. Each caller owns an instance and
  * gates it on its own conf key.
  *
  * Layout: a SMALL frame is stored in one partition (`coalesce(1)` before
  * `persist`). Small means its optimizer size estimate
  * (`optimizedPlan.stats.sizeInBytes`) is at most the session's
  * `spark.sql.autoBroadcastJoinThreshold` — a frame Spark would ship
  * whole to every task is small enough for one task to serve. A
  * threshold ≤ 0 turns the layout off; a larger frame keeps the layout
  * of the plan that built it. `SinglePartition` satisfies every clustered
  * and all-tuples distribution, so the aggregates, windows and global
  * ranks a request runs over the frame plan no exchange. The one caveat
  * is a two-child join: `EnsureRequirements` re-shuffles both sides of a
  * sort-merge join whose children are both `SinglePartition` (its
  * `SinglePartitionShuffleSpec` cannot create a partitioning), so a
  * request joining two such frames broadcasts its small side instead.
  */
final class SessionFrames {
  private val frames = new ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def persisted(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    // Entries of stopped sessions are unreachable garbage (the cached
    // frames strongly reference their session) — prune on the way in,
    // so a long-lived JVM cycling serving sessions doesn't accumulate.
    frames.keySet.removeIf { case (s, _) => s.sparkContext.isStopped }
    val df = frames.computeIfAbsent((spark, key), _ => {
      val built = build
      val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
      if (threshold > 0 && built.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold)
        built.coalesce(1)
      else built
    })
    // Self-healing: a cacheManager.clearCache() elsewhere (warm loops,
    // Verify hygiene) silently unpersists; re-mark so the NEXT request
    // rebuilds the cache instead of silently scanning forever. The stored
    // frame already carries its layout, so the re-mark keeps it.
    if (df.storageLevel == StorageLevel.NONE) df.persist()
    df
  }
}
