package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.storage.StorageLevel

/** The serving-state layout of [[SessionFrames]]: a frame whose size
  * estimate is at most the session's broadcast threshold is stored in one
  * partition; the threshold alone decides, and the self-heal after a
  * cache clear keeps the layout.
  */
class SessionFramesSpec extends SparkSpec {

  /** Four input partitions and a known size estimate (8 bytes per row). */
  private def frame(s: SparkSession): DataFrame = s.range(0, 1000, 1, 4).toDF("id")

  /** (partitions, one SinglePartition) of the frame's cached scan. */
  private def layout(df: DataFrame): (Int, Boolean) = {
    val scans = collectAllPlans(df.queryExecution.executedPlan)
      .collect { case m: InMemoryTableScanExec => m }
    assert(scans.size == 1, s"not served from one cached scan: ${df.queryExecution.executedPlan}")
    (df.queryExecution.toRdd.getNumPartitions, scans.head.outputPartitioning == SinglePartition)
  }

  test("a frame under the broadcast threshold is persisted in one partition") {
    val frames = new SessionFrames
    val df = frames.persisted(spark, "small")(frame(spark))
    try {
      assert(df.storageLevel != StorageLevel.NONE, "frame not persisted")
      assert(layout(df) == (1, true), s"layout ${layout(df)}, want one SinglePartition")
      assert(df.count() == 1000)
    } finally df.unpersist()
  }

  test("the threshold gates the layout: off at -1, kept for a frame above it") {
    def persistedIn(threshold: String): DataFrame = {
      val s = spark.newSession()
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      new SessionFrames().persisted(s, "gated")(frame(s))
    }
    val on = persistedIn("10MB")
    val off = persistedIn("-1")
    val over = persistedIn("100b") // the estimate is 8,000 bytes
    try {
      assert(layout(on) == (1, true), s"gate on: ${layout(on)}")
      assert(layout(off) == (4, false), s"gate off: ${layout(off)}")
      assert(layout(over) == (4, false), s"frame over the threshold: ${layout(over)}")
      assert(Seq(on, off, over).forall(_.count() == 1000))
    } finally Seq(on, off, over).foreach(_.unpersist())
  }

  test("the self-heal after clearCache keeps the one-partition layout") {
    val frames = new SessionFrames
    val first = frames.persisted(spark, "healed")(frame(spark))
    first.count()
    spark.sharedState.cacheManager.clearCache()
    assert(first.storageLevel == StorageLevel.NONE, "clearCache left the frame persisted")
    val healed = frames.persisted(spark, "healed")(frame(spark))
    try {
      assert(healed.storageLevel != StorageLevel.NONE, "self-heal did not re-persist")
      assert(layout(healed) == (1, true), s"healed layout ${layout(healed)}")
    } finally healed.unpersist()
  }
}
