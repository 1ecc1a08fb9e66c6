package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The streaming URL-admission gate: corpus canonicals reject re-dressed
  * arrivals, cross-batch folding rejects re-dressings of earlier
  * admissions, intra-batch duplicates keep the smallest doc_id, and a
  * RESTART rebuilds the admitted set from the sink so pre-restart
  * admissions still reject.
  */
class StreamingUrlDedupSpec extends SparkSpec {

  private def land(srcDir: java.nio.file.Path, name: String, df: DataFrame): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_url_split").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    java.nio.file.Files.move(part, srcDir.resolve(name))
  }

  test("url admission across batches, intra-batch, and a restart") {
    import spark.implicits._
    val corpus = Seq("https://a.com/x?p=1", "HTTPS://B.com:443/y/").toDF("url")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_url_src")
    val out = java.nio.file.Files.createTempDirectory("graft_url_out").toString + "/admitted"
    val cp = java.nio.file.Files.createTempDirectory("graft_url_cp").toString
    // Batch 1: doc 1 is a re-dressing of corpus a.com -> rejected;
    // doc 2 is new -> admitted; docs 3+4 share one canonical (different
    // dressings) -> 3 admitted, 4 rejected.
    land(srcDir, "a.parquet", Seq(
      (1L, "https://A.COM/x?utm_source=s&p=1"),
      (2L, "https://c.com/p?k=2"),
      (3L, "http://d.com:80/q"),
      (4L, "HTTP://d.com/q#frag")).toDF("doc_id", "url"))
    // Batch 2: doc 5 re-dresses batch-1-admitted c.com -> rejected
    // (cross-batch folding); doc 6 new -> admitted.
    land(srcDir, "b.parquet", Seq(
      (5L, "HTTPS://C.com:443/p/?k=2"),
      (6L, "https://e.com/")).toDF("doc_id", "url"))
    def stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, url STRING"))
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    StreamingUrlDedup.urlAdmission(stream, corpus, out, cp).awaitTermination()
    def admittedIds = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(admittedIds == Set(2L, 3L, 6L), s"after run 1: $admittedIds")
    // RESTART with a fresh query: batch 3 re-dresses batch-1-admitted
    // d.com -> must still reject (extension rebuilt from the sink);
    // doc 8 new -> admitted.
    land(srcDir, "c.parquet", Seq(
      (7L, "HTTP://D.com/q/#z"),
      (8L, "https://f.com/z?b=2&a=1")).toDF("doc_id", "url"))
    StreamingUrlDedup.urlAdmission(stream, corpus, out,
      java.nio.file.Files.createTempDirectory("graft_url_cp2").toString)
      .awaitTermination()
    assert(admittedIds == Set(2L, 3L, 6L, 8L), s"after restart: $admittedIds")
    // The admitted rows match the batch operator's canonical forms.
    val canon = spark.read.parquet(out).select("doc_id", "canonical")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(canon(3L) == "http://d.com/q" && canon(8L) == "https://f.com/z?a=1&b=2",
      s"canonicals: $canon")
  }

  test("a document redelivered in a later batch is rejected by its own earlier admission") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq("https://a.com/x").toDF("url")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val out = java.nio.file.Files.createTempDirectory("graft_url_redeliver_out").toString + "/admitted"
    val cp = java.nio.file.Files.createTempDirectory("graft_url_redeliver_cp").toString
    val query = StreamingUrlDedup.urlAdmission(
      input.toDS().toDF("doc_id", "url"), corpus, out, cp,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // Batch 1: doc 1 admitted.
      input.addData(Seq((1L, "https://c.com/p")))
      query.processAllAvailable()
      // Batch 2: doc 1 REDELIVERED verbatim -> rejected; doc 2 new.
      input.addData(Seq((1L, "https://c.com/p"), (2L, "https://e.com/")))
      query.processAllAvailable()
    } finally query.stop()
    val admittedRows = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(admittedRows == Seq(1L, 2L), s"got $admittedRows — redelivery admitted twice")
  }

  test("a replayed batch is not rejected by its own sink rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq("https://a.com/x").toDF("url")
    val out = java.nio.file.Files.createTempDirectory("graft_url_replay_out").toString + "/admitted"
    val cp = java.nio.file.Files.createTempDirectory("graft_url_replay_cp").toString
    // The last run crashed after batch 0's sink write and before its
    // checkpoint commit: the sink holds doc 1, the checkpoint is empty.
    Seq((1L, "https://c.com/p")).toDF("doc_id", "url")
      .withColumn("canonical",
        graft.operators.DedupOps.canonicalUrl(org.apache.spark.sql.functions.col("url")))
      .write.parquet(s"$out/batch_id=0")
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val query = StreamingUrlDedup.urlAdmission(
      input.toDS().toDF("doc_id", "url"), corpus, out, cp,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // Batch 0 replays doc 1: its own sink rows must not reject it.
      input.addData(Seq((1L, "https://c.com/p")))
      query.processAllAvailable()
    } finally query.stop()
    val admittedRows = spark.read.parquet(out).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(admittedRows == Seq(1L), s"got $admittedRows — replay self-rejected")
  }
}
