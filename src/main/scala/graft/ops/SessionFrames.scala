package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Frames persisted once per (session, key) and shared by every request
  * of a long-lived serving session. Each caller owns an instance and
  * gates it on its own conf key.
  */
final class SessionFrames {
  private val frames = new ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def persisted(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    // Entries of stopped sessions are unreachable garbage (the cached
    // frames strongly reference their session) — prune on the way in,
    // so a long-lived JVM cycling serving sessions doesn't accumulate.
    frames.keySet.removeIf { case (s, _) => s.sparkContext.isStopped }
    val df = frames.computeIfAbsent((spark, key), _ => build)
    // Self-healing: a cacheManager.clearCache() elsewhere (warm loops,
    // Verify hygiene) silently unpersists; re-mark so the NEXT request
    // rebuilds the cache instead of silently scanning forever.
    if (df.storageLevel == StorageLevel.NONE) df.persist()
    df
  }
}
