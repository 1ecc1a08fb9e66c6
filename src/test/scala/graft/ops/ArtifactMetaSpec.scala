package graft.ops

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The artifact-layout catalog: corpus-scaled bucket sizing, the
  * persisted meta table every stored index's update path reads back, and
  * the commit log every gated build probes.
  */
class ArtifactMetaSpec extends SparkSpec {

  test("bucketsFor holds a fixed target bucket size between the floor and ceiling") {
    import ArtifactMeta._
    // floor: tiny corpora keep the pre-round-10 fixed layout
    assert(bucketsFor(0) == MinBuckets)
    assert(bucketsFor(500) == MinBuckets)
    assert(bucketsFor(MinBuckets * DocsPerBucket) == MinBuckets)
    // growth: smallest power of two at <= target rows per bucket
    assert(bucketsFor(MinBuckets * DocsPerBucket + 1) == MinBuckets * 2)
    assert(bucketsFor(5000) == 16)    // the sf0.1 corpus
    assert(bucketsFor(100000) == 256) // the rehearsal-sweep ceiling
    // every non-capped answer really holds the target
    for (rows <- Seq(1000L, 12345L, 99999L, 500000L)) {
      val b = bucketsFor(rows)
      assert(rows <= b.toLong * DocsPerBucket, s"rows=$rows buckets=$b over target")
      assert(b == MinBuckets || rows > (b / 2).toLong * DocsPerBucket,
        s"rows=$rows buckets=$b not minimal")
    }
    // ceiling: directory count stops growing past MaxBuckets
    assert(bucketsFor(Long.MaxValue / 2) == MaxBuckets)
  }

  test("meta round-trips, sibling writers publish independently, missing keys fail loud") {
    val root = graft.ops.ProcessTmp.dir("graft_meta_spec") + "/r1"
    ArtifactMeta.write(spark, root, Map("buckets.banded" -> 32L, "buckets.sets" -> 32L))
    // a sibling builder under the same root (the platform build's labels
    // entry) must not clobber the dedup builder's entries
    ArtifactMeta.write(spark, root, Map("buckets.labels" -> 64L))
    assert(ArtifactMeta.readBuckets(spark, root, "banded") == 32)
    assert(ArtifactMeta.readBuckets(spark, root, "sets") == 32)
    assert(ArtifactMeta.readBuckets(spark, root, "labels") == 64)
    intercept[Exception] { ArtifactMeta.readLong(spark, root, "beam_ef") }
    intercept[IllegalStateException] {
      ArtifactMeta.readLong(spark, root + "_absent", "buckets.banded")
    }
  }

  test("a commit probe starts no Spark job and reads a cold or absent root as uncommitted") {
    val root = graft.ops.ProcessTmp.dir("graft_meta_spec") + "/commit"
    ArtifactMeta.write(spark, root, Map("buckets.postings" -> 8L)) // cold: no commit yet
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("probe", "commit probes")
      assert(!ArtifactMeta.isCommitted(spark, root + "_absent", "build"))
      assert(!ArtifactMeta.isCommitted(spark, root, "build"))
      sc.clearJobGroup()
      ArtifactMeta.commit(spark, root, "build")
      sc.setJobGroup("probe", "commit probes")
      assert(ArtifactMeta.isCommitted(spark, root, "build"))
      assert(!ArtifactMeta.isCommitted(spark, root, "delta"))
      // The listener bus delivers in order: once the sentinel job's start
      // is seen, every probe-group job start would have been seen too.
      sc.setJobGroup("sentinel", "listener flush")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("sentinel") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(groups.contains("sentinel"), "listener never saw the sentinel job")
      assert(!groups.contains("probe"), "a commit probe started a Spark job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
