package graft.streaming

import graft.SparkSpec
import graft.model.Tables
import graft.pipeline.Pipelines
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The streaming platform delta's equivalence contract: a 2-micro-batch
  * stream over the stored day-1 artifacts leaves EXACTLY the artifacts two
  * sequential [[Pipelines.platformDeltaStage]] runs leave — labels,
  * manifest log snapshot, packed-token total — and a restart from the
  * same checkpoint with no new data is a no-op.
  */
class StreamingPlatformDeltaSpec extends SparkSpec {

  private lazy val root = graft.ops.ProcessTmp.dir("graft_sdelta_spec")

  test("2-batch stream == two sequential deltas; checkpoint restart is a no-op") {
    val isB1 = (c: Column) => c % 10 === 1
    val isB2 = (c: Column) => c % 10 === 3
    val day1 = (c: Column) => !isB1(c) && !isB2(c)
    val docs = Tables.documents(spark, sfDir)
    // Identical day-1 artifacts for both arms.
    val (seqRoot, strRoot) = (s"$root/seq", s"$root/str")
    Pipelines.platformBuildCore(spark, sfDir, seqRoot, day1(col("doc_id")))
    Pipelines.platformBuildCore(spark, sfDir, strRoot, day1(col("doc_id")))
    // Sequential arm: two deltas in id order.
    Pipelines.platformDeltaStage(spark, sfDir, seqRoot, isB1).count()
    Pipelines.platformDeltaStage(spark, sfDir, seqRoot, isB2).count()
    // Streaming arm: land each batch as one file -> one micro-batch each
    // (mtimes pin the delivery order to batch1 then batch2).
    val srcDir = new java.io.File(s"$root/src"); srcDir.mkdirs()
    def land(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sdelta_split").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis() - 60000
    land(docs.where(isB1(col("doc_id"))), "a.parquet", t0)
    land(docs.where(isB2(col("doc_id"))), "b.parquet", t0 + 10000)
    val cp = s"$root/cp"
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(srcDir.toString)
    StreamingPlatformDelta.deltaStream(stream, strRoot, cp).awaitTermination()

    def labels(r: String): Set[(Long, Long)] =
      graft.ops.MergeSink.resolveKeyLog(spark, s"$r/labels", Seq("doc_id"))
        .select("doc_id", "component")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    def snapshot(r: String): Set[(Long, Long, Long, Long, String)] = {
      val w = Window.partitionBy("doc_id").orderBy(col("day").desc)
      spark.read.parquet(s"$r/manifest")
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .select("doc_id", "component", "toks", "cum_before", "state")
        .collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3),
          x.getString(4))).toSet
    }
    def stats(r: String): Long =
      spark.read.parquet(s"$r/stats").select("total_toks").head().getLong(0)

    assert(labels(strRoot) == labels(seqRoot), "labels diverged")
    assert(snapshot(strRoot) == snapshot(seqRoot), "manifest snapshots diverged")
    assert(stats(strRoot) == stats(seqRoot), "token totals diverged")
    // The second micro-batch's commit record is the stored tag.
    assert(spark.read.parquet(s"$strRoot/stats")
      .select("commit").head().getString(0) == "batch_1")
    // Restart from the same checkpoint with no new files: no-op.
    val before = snapshot(strRoot)
    StreamingPlatformDelta.deltaStream(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString),
      strRoot, cp).awaitTermination()
    assert(snapshot(strRoot) == before, "checkpoint restart mutated the artifacts")

    // Crash window between the stats publish and the commit-log row: drop the
    // commit-LOG row for batch_1 and the checkpoint's engine-level commit
    // marker, so a restart REPLAYS epoch 1 with only the stats fallback
    // matching. The replay must skip (artifacts untouched) AND heal the
    // log — otherwise a later delayed duplicate of batch_1, arriving
    // after stats.commit has moved on, would re-run the whole delta.
    def rmTree(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmTree)
      p.delete(); ()
    }
    val logRow = new java.io.File(s"$strRoot/commits/tag=batch_1")
    assert(logRow.exists, "precondition: batch_1 commit-log row present")
    rmTree(logRow)
    val marker = new java.io.File(s"$cp/commits/1")
    assert(marker.exists, "precondition: checkpoint commit marker present")
    marker.delete()
    new java.io.File(s"$cp/commits/.1.crc").delete() // hadoop checksum sidecar
    StreamingPlatformDelta.deltaStream(
      spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString),
      strRoot, cp).awaitTermination()
    assert(snapshot(strRoot) == before, "stats-fallback replay re-ran the delta")
    assert(new java.io.File(s"$strRoot/commits/tag=batch_1").exists,
      "skip path did not heal the missing commit-log row")
  }
}
