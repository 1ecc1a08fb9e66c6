package graft.streaming

import graft.SparkSpec
import graft.operators.SimilarityOps
import org.apache.spark.sql.functions.col

/** SemDeDup streaming admission: same-cluster cosine twins are rejected,
  * including twins of earlier ADMISSIONS, across restarts — the embedding
  * mirror of StreamingDedupSpec's minhash admission tests.
  */
class StreamingSemDedupSpec extends SparkSpec {

  private val dim = 64

  /** A unit basis-ish vector: 1.0 at `hot`, `eps` elsewhere. */
  private def vec(hot: Int, eps: Float = 0.0f): Seq[Float] =
    Seq.tabulate(dim)(i => if (i == hot) 1.0f else eps)

  private def embDF(rows: Seq[(Long, Seq[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("a semantic twin of a batch-1 admission is rejected in batch 2; restart holds") {
    // Corpus: one vector along axis 0 (vec_id 0 < IvfClusters, so it also
    // seeds the single centroid — every vector lands in cluster 0 and the
    // admission check is pure cosine thresholding). Basis vectors are
    // mutually orthogonal (cos ~0 < 0.35), so only deliberate twins
    // collide.
    val corpus = embDF(Seq((0L, vec(0))))
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sem_src")
    val out = java.nio.file.Files.createTempDirectory("graft_sem_out").toString + "/admitted"
    val cp = java.nio.file.Files.createTempDirectory("graft_sem_cp").toString
    def land(rows: Seq[(Long, Seq[Float])], name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sem_split").toString
      embDF(rows).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.move(part, srcDir.resolve(name))
    }
    def stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    // Batch 1: vec 1 duplicates the CORPUS (axis 0) -> rejected;
    // vec 2 (axis 1) is semantically fresh -> admitted and indexed.
    land(Seq((1L, vec(0, 0.001f)), (2L, vec(1))), "a.parquet")
    // Batch 2: vec 3 duplicates the batch-1 ADMISSION (axis 1) -> rejected
    // by the refreshed index; vec 4 (axis 2) fresh -> admitted.
    land(Seq((3L, vec(1, 0.001f)), (4L, vec(2))), "b.parquet")
    StreamingSemDedup.semDedupAdmission(stream, corpus, out, cp)
      .awaitTermination()
    val admitted = spark.read.parquet(out).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(admitted == Set(2L, 4L), s"got $admitted")
    // Restart (fresh invocation, same checkpoint + sink): vec 5 twins the
    // PRE-RESTART admission 4 — the sink-rebuilt extension must reject it;
    // vec 6 (axis 3) passes.
    land(Seq((5L, vec(2, 0.001f)), (6L, vec(3))), "c.parquet")
    StreamingSemDedup.semDedupAdmission(stream, corpus, out, cp)
      .awaitTermination()
    val after = spark.read.parquet(out).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(after == Set(2L, 4L, 6L), s"got $after")
  }

  test("streaming admission matches sequential batch ground truth on the fixture") {
    val emb = graft.model.Tables.embeddings(spark, sfDir)
    val corpus = emb.where(col("vec_id") % 10 >= 2)
    val arriving = emb.where(col("vec_id") % 10 < 2)
    val srcDir = java.nio.file.Files.createTempDirectory("graft_semfx_src")
    val out = java.nio.file.Files.createTempDirectory("graft_semfx_out").toString + "/admitted"
    val cp = java.nio.file.Files.createTempDirectory("graft_semfx_cp").toString
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_semfx_split").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.move(part, srcDir.resolve(name))
    }
    land(arriving.where(col("vec_id") % 20 < 2), "a.parquet")
    land(arriving.where(col("vec_id") % 20 >= 10), "b.parquet")
    val stream = spark.readStream.schema(arriving.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    StreamingSemDedup.semDedupAdmission(stream, corpus, out, cp)
      .awaitTermination()
    val admitted = spark.read.parquet(out).select("vec_id")
      .collect().map(_.getLong(0)).toSet

    // Ground truth: replicate assignment + cosine EXACTLY (same index-
    // order accumulation as the codegen expression, same 4dp HALF_UP
    // round, same cent_id tie-break) and admit sequentially.
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val all = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val corpusIds = corpus.select("vec_id").collect().map(_.getLong(0)).toSet
    val centArr = corpus.where(col("vec_id") < SimilarityOps.IvfClusters)
      .select("vec_id").collect().map(_.getLong(0)).sorted
      .map(id => id.toInt -> all(id))
    def cluster(v: Array[Double]): Int =
      centArr.map { case (cid, cv) => (r4(cos(v, cv)), cid) }
        .minBy { case (s, cid) => (-s, cid) }._2
    val clusterOf = all.map { case (id, v) => id -> cluster(v) }
    def isDup(id: Long, index: Set[Long]): Boolean =
      index.exists(j => clusterOf(j) == clusterOf(id) && r4(cos(all(id), all(j))) >= 0.35)
    val b1 = arriving.where(col("vec_id") % 20 < 2)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val b2 = arriving.where(col("vec_id") % 20 >= 10)
      .select("vec_id").collect().map(_.getLong(0)).sorted
    val admitted1 = b1.filterNot(isDup(_, corpusIds)).toSet
    val admitted2 = b2.filterNot(isDup(_, corpusIds ++ admitted1)).toSet
    val expected = admitted1 ++ admitted2
    assert(admitted == expected,
      s"admitted ${admitted.size} vs expected ${expected.size}: " +
        s"extra=${admitted -- expected} missing=${expected -- admitted}")
  }

  test("a vector redelivered in a later batch is rejected by its own earlier admission") {
    val corpus = embDF(Seq((0L, vec(0))))
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sem_redeliver_src")
    val out = java.nio.file.Files.createTempDirectory("graft_sem_redeliver_out").toString + "/admitted"
    val cp = java.nio.file.Files.createTempDirectory("graft_sem_redeliver_cp").toString
    def land(rows: Seq[(Long, Seq[Float])], name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sem_redeliver_split").toString
      embDF(rows).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.move(part, srcDir.resolve(name))
    }
    // Batch 1: vec 2 admitted. Batch 2: vec 2 REDELIVERED verbatim ->
    // rejected by its batch-1 admission; vec 3 (axis 2) fresh.
    land(Seq((2L, vec(1))), "a.parquet")
    land(Seq((2L, vec(1)), (3L, vec(2))), "b.parquet")
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    StreamingSemDedup.semDedupAdmission(stream, corpus, out, cp).awaitTermination()
    val admittedRows = spark.read.parquet(out).select("vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(admittedRows == Seq(2L, 3L), s"got $admittedRows — redelivery admitted twice")
  }

  test("a replayed batch is not rejected by its own sink rows") {
    val corpus = embDF(Seq((0L, vec(0))))
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sem_replay_src")
    val out = java.nio.file.Files.createTempDirectory("graft_sem_replay_out").toString + "/admitted"
    val cp = java.nio.file.Files.createTempDirectory("graft_sem_replay_cp").toString
    // The last run crashed after batch 0's sink write and before its
    // checkpoint commit: the sink holds vec 2, the checkpoint is empty.
    embDF(Seq((2L, vec(1)))).write.parquet(s"$out/batch_id=0")
    embDF(Seq((2L, vec(1)))).coalesce(1).write.mode("overwrite")
      .parquet(srcDir.resolve("a").toString)
    // Batch 0 replays vec 2: its own sink rows must not reject it.
    val stream = spark.readStream.schema(corpus.schema).parquet(srcDir.resolve("a").toString)
    StreamingSemDedup.semDedupAdmission(stream, corpus, out, cp).awaitTermination()
    val admittedRows = spark.read.parquet(out).select("vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(admittedRows == Seq(2L), s"got $admittedRows — replay self-rejected")
  }
}
