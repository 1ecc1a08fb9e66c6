package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Watermarked streaming dedup: first arrival survives, within-horizon
  * duplicates drop (across micro-batch boundaries), state expires past the
  * horizon.
  */
class StreamingDedupSpec extends SparkSpec {

  private def ts(day: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00")

  test("dedup keeps first arrival, drops within-horizon dups, expires state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val docs = input.toDS().toDF("ts", "doc_id", "text")
    val query = StreamingDedup.dedupStream(docs, horizon = "1 day")
      .select("doc_id")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      // Batch 1: two copies of "alpha" in ONE batch -> one survivor (id 1);
      // "beta" survives.
      input.addData(Seq((ts(1), 1L, "alpha"), (ts(1), 2L, "alpha"), (ts(1), 3L, "beta")))
      query.processAllAvailable()
      // Batch 2: "alpha" again within the 1-day horizon -> dropped (state
      // carried ACROSS the micro-batch boundary); "gamma" new -> kept.
      input.addData(Seq((ts(2), 4L, "alpha"), (ts(2), 5L, "gamma")))
      query.processAllAvailable()
      // Batch 3: push the watermark far past the horizon (watermarks only
      // advance at batch completion, so expiry needs its own batch).
      input.addData(Seq((ts(20), 6L, "delta")))
      query.processAllAvailable()
      // Batch 4: the "alpha" fingerprint state has expired — a re-arrival
      // is admitted again.
      input.addData(Seq((ts(21), 7L, "alpha")))
      query.processAllAvailable()
    } finally query.stop()
    val kept = spark.table("dedup_out").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L, 6L, 7L), s"got $kept")
  }

  test("streaming near-dup admission matches the batch incremental query") {
    import org.apache.spark.sql.functions.col
    import graft.operators.DedupOps
    val docs = graft.model.Tables.documents(spark, sfDir)
    val corpus = docs.where(col("doc_id") % 10 >= 2)
    val batchDocs = docs.where(col("doc_id") % 10 < 2)
    // Land the arriving docs as two parquet files -> two micro-batches.
    val srcDir = java.nio.file.Files.createTempDirectory("graft_neardup_src")
    val out = java.nio.file.Files.createTempDirectory("graft_neardup_out").toString + "/admitted"
    val cp = java.nio.file.Files.createTempDirectory("graft_neardup_cp").toString
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_neardup_split").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.move(part, srcDir.resolve(name))
    }
    land(batchDocs.where(col("doc_id") % 20 < 2), "a.parquet")
    land(batchDocs.where(col("doc_id") % 20 >= 10), "b.parquet")
    val stream = spark.readStream.schema(batchDocs.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    StreamingDedup.nearDupAdmission(stream, corpus, out, cp)
      .awaitTermination()
    val admitted = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // Independent ground truth from the EXACT-Jaccard pair graph (on the
    // fixtures MinHash verification recovers exactly these pairs —
    // DedupSpec pins that): sequential admission where each batch is
    // checked against corpus + previously ADMITTED docs.
    val adj = collection.mutable.Map[Long, Set[Long]]().withDefaultValue(Set.empty)
    DedupOps.nsDedupJaccard(spark, sfDir).select("doc_a", "doc_b").collect()
      .foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        adj(a) += b; adj(b) += a
      }
    val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    val b1 = batchDocs.where(col("doc_id") % 20 < 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b2 = batchDocs.where(col("doc_id") % 20 >= 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val admitted1 = b1.filter(x => (adj(x) & corpusIds).isEmpty)
    val index2 = corpusIds ++ admitted1
    val admitted2 = b2.filter(x => (adj(x) & index2).isEmpty)
    val expected = admitted1 ++ admitted2
    assert(admitted == expected,
      s"admitted ${admitted.size} vs expected ${expected.size}: " +
        s"extra=${admitted -- expected} missing=${expected -- admitted}")
  }

  test("a near-dup of a batch-1 admission is rejected in batch 2") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sameText = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq((100L, "completely different corpus material words here"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val out = java.nio.file.Files.createTempDirectory("graft_refresh_out").toString + "/admitted"
    val cp = java.nio.file.Files.createTempDirectory("graft_refresh_cp").toString
    val query = StreamingDedup.nearDupAdmission(
      input.toDS().toDF("doc_id", "text"), corpus, out, cp,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // Batch 1: doc 1 has no corpus near-dup -> admitted AND indexed.
      input.addData(Seq((1L, sameText)))
      query.processAllAvailable()
      // Batch 2: doc 2 duplicates the batch-1 ADMISSION (not the corpus)
      // -> rejected by the refreshed index; doc 3 is fresh -> admitted.
      input.addData(Seq((2L, sameText),
        (3L, "another unrelated collection of words entirely fresh content")))
      query.processAllAvailable()
    } finally query.stop()
    val admitted = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L, 3L), s"got $admitted")
  }

  test("restart rebuilds the admission index from the sink") {
    import spark.implicits._
    val sameText = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq((100L, "completely different corpus material words here"))
      .toDF("doc_id", "text")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_restart_adm_src")
    val out = java.nio.file.Files.createTempDirectory("graft_restart_adm_out").toString + "/admitted"
    val cp = java.nio.file.Files.createTempDirectory("graft_restart_adm_cp").toString
    def land(rows: Seq[(Long, String)], name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_restart_adm_split").toString
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.move(part, srcDir.resolve(name))
    }
    def stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    // Run 1: doc 1 admitted (no corpus near-dup), query terminates.
    land(Seq((1L, sameText)), "a.parquet")
    StreamingDedup.nearDupAdmission(stream, corpus, out, cp).awaitTermination()
    // Run 2 (fresh invocation, same checkpoint + sink): doc 2 duplicates
    // the PRE-RESTART admission — the rebuilt index must reject it; doc 3
    // is fresh and must pass.
    land(Seq((2L, sameText),
      (3L, "another unrelated collection of words entirely fresh content")), "b.parquet")
    StreamingDedup.nearDupAdmission(stream, corpus, out, cp).awaitTermination()
    val admitted = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L, 3L), s"got $admitted")
  }

  test("a document redelivered in a later batch is rejected by its own earlier admission") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val sameText = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq((100L, "completely different corpus material words here"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val out = java.nio.file.Files.createTempDirectory("graft_redeliver_out").toString + "/admitted"
    val cp = java.nio.file.Files.createTempDirectory("graft_redeliver_cp").toString
    val query = StreamingDedup.nearDupAdmission(
      input.toDS().toDF("doc_id", "text"), corpus, out, cp,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // Batch 1: doc 1 admitted and indexed.
      input.addData(Seq((1L, sameText)))
      query.processAllAvailable()
      // Batch 2: doc 1 REDELIVERED verbatim — not a replay, so its batch-1
      // admission must reject it; doc 3 is fresh.
      input.addData(Seq((1L, sameText),
        (3L, "another unrelated collection of words entirely fresh content")))
      query.processAllAvailable()
    } finally query.stop()
    val admittedRows = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(admittedRows == Seq(1L, 3L), s"got $admittedRows — redelivery admitted twice")
  }

  test("a replayed batch is not rejected by its own sink rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq((100L, "completely different corpus material words here"))
      .toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_replay_out").toString + "/admitted"
    val cp = java.nio.file.Files.createTempDirectory("graft_replay_cp").toString
    // The last run crashed after batch 0's sink write and before its
    // checkpoint commit: the sink holds doc 1, the checkpoint is empty.
    Seq((1L, text)).toDF("doc_id", "text").write.parquet(s"$out/batch_id=0")
    val input = MemoryStream[(Long, String)]
    val query = StreamingDedup.nearDupAdmission(
      input.toDS().toDF("doc_id", "text"), corpus, out, cp,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // Batch 0 replays doc 1: its own sink rows must not reject it.
      input.addData(Seq((1L, text)))
      query.processAllAvailable()
    } finally query.stop()
    val admittedRows = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(admittedRows == Seq(1L), s"got $admittedRows — replay self-rejected")
  }

  test("a streamed document that reuses a corpus doc_id meets that corpus entry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq((100L, text)).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft_corpus_id_out").toString + "/admitted"
    val cp = java.nio.file.Files.createTempDirectory("graft_corpus_id_cp").toString
    val input = MemoryStream[(Long, String)]
    val query = StreamingDedup.nearDupAdmission(
      input.toDS().toDF("doc_id", "text"), corpus, out, cp,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // Doc 100 re-sends the corpus document: only the stream's own
      // admissions are keyed by batch, so the corpus entry rejects it
      // (the chain's rule); doc 3 is fresh.
      input.addData(Seq((100L, text),
        (3L, "another unrelated collection of words entirely fresh content")))
      query.processAllAvailable()
    } finally query.stop()
    val admittedRows = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(admittedRows == Seq(3L), s"got $admittedRows")
  }
}
