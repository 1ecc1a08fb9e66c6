package graft.streaming

import graft.SparkSpec
import graft.model.Tables
import graft.operators.{IndexOps, TextOps}
import org.apache.spark.sql.functions.col

/** Streaming BM25 index maintenance: micro-batches merge into the stored
  * artifact and converge to the batch-built full index.
  */
class StreamingIndexSpec extends SparkSpec {

  test("streamed micro-batches converge the stored index to the full build") {
    val docs = Tables.documents(spark, sfDir)
    val history = docs.where(col("doc_id") % 10 >= 2)
    val arriving = docs.where(col("doc_id") % 10 < 2)
    val root = java.nio.file.Files.createTempDirectory("graft_sidx").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_sidx_cp").toString
    IndexOps.buildBm25Index(history, root)
    // Land the arriving docs as two parquet files -> two micro-batches.
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sidx_src")
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sidx_split").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.move(part, srcDir.resolve(name))
    }
    land(arriving.where(col("doc_id") % 20 < 2), "a.parquet")
    land(arriving.where(col("doc_id") % 20 >= 10), "b.parquet")
    val stream = spark.readStream.schema(arriving.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    StreamingIndex.bm25MaintenanceStream(stream, root, cp).awaitTermination()
    // The maintained artifact answers EXACTLY like the in-session query
    // over the full corpus.
    val want = TextOps.nsTextBm25(spark, sfDir).collect().map(_.toSeq).toSeq
    val got = IndexOps.queryBm25Index(spark, root)
      .collect().map(_.toSeq).toSeq
    assert(want.nonEmpty && got == want,
      s"maintained index diverges: got=${got.take(3)} want=${want.take(3)}")
    spark.sharedState.cacheManager.clearCache()
    // Crash-replay: re-delivering a batch through the SAME merge path is
    // a no-op (LWW on the term/doc key — state lives in the index).
    val postings = spark.read.parquet(s"$root/postings")
      .collect().map(_.toSeq).toSet
    IndexOps.updateBm25Index(arriving.where(col("doc_id") % 20 < 2), root)
    val after = spark.read.parquet(s"$root/postings")
      .collect().map(_.toSeq).toSet
    assert(after == postings, "replayed micro-batch mutated the index")
  }

  test("streamed vector batches HNSW-insert into the stored graph like sequential inserts") {
    import graft.operators.SimilarityOps
    val emb = Tables.embeddings(spark, sfDir)
    val isHistory = col("vec_id") % 10 >= 2
    val batch1 = col("vec_id") % 20 < 2   // arriving day 1
    val batch2 = col("vec_id") % 20 >= 10 // arriving day 2

    // Sequential reference: day-1 build on history, then two inserts.
    val seqRoot = java.nio.file.Files.createTempDirectory("graft_sgraph_seq").toString
    IndexOps.buildGraphIndex(spark, sfDir, seqRoot, isHistory)
    IndexOps.updateGraphIndex(spark, sfDir, seqRoot, batch1)
    IndexOps.updateGraphIndex(spark, sfDir, seqRoot, batch2)
    val want = IndexOps.readGraphEdges(spark, seqRoot)
      .collect().map(_.toSeq).toSet

    // Streamed: same splits as two micro-batches through foreachBatch.
    val root = java.nio.file.Files.createTempDirectory("graft_sgraph").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_sgraph_cp").toString
    IndexOps.buildGraphIndex(spark, sfDir, root, isHistory)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sgraph_src")
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sgraph_split").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.move(part, srcDir.resolve(name))
    }
    val idsOnly = emb.select("vec_id")
    land(idsOnly.where(batch1), "a.parquet")
    land(idsOnly.where(batch2), "b.parquet")
    val stream = spark.readStream.schema(idsOnly.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    StreamingIndex.graphMaintenanceStream(stream, sfDir, root, cp).awaitTermination()
    val got = IndexOps.readGraphEdges(spark, root)
      .collect().map(_.toSeq).toSet
    assert(got == want, "streamed inserts diverge from sequential inserts")

    // Structural invariants survive a replayed (crash-redelivered) batch:
    // still degree-capped, inserted nodes still bidirectionally present.
    IndexOps.updateGraphIndex(spark, sfDir, root, batch2)
    val edges = IndexOps.readGraphEdges(spark, root)
    val overCap = edges.groupBy("src_id")
      .count().where(col("count") > SimilarityOps.BeamMaxDegree).count()
    assert(overCap == 0, "replayed insert broke the degree cap")
    val inserted = emb.where(batch1 || batch2).select("vec_id")
    val missingSrc = inserted.join(
      edges.select(col("src_id").as("vec_id")).distinct(), Seq("vec_id"), "left_anti").count()
    val missingNbr = inserted.join(
      edges.select(col("nbr_id").as("vec_id")).distinct(), Seq("vec_id"), "left_anti").count()
    assert(missingSrc == 0 && missingNbr == 0,
      "replayed insert dropped an inserted node from the graph")
  }
}
