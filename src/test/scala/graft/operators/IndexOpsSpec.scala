package graft.operators

import graft.SparkSpec
import graft.model.Tables
import org.apache.spark.sql.functions._

/** Persisted-index contract: a query served from the written artifact is
  * row-identical to the in-session query, both after a full build and
  * after incremental maintenance.
  */
class IndexOpsSpec extends SparkSpec {

  private def tmpRoot(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("bm25 served from the stored index equals the in-session query") {
    val want = TextOps.nsTextBm25(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(want.nonEmpty, "fixture produced no bm25 rows — test is vacuous")
    val got = IndexOps.nsTextBm25Indexed(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(got == want, s"index-served mismatch: got=${got.take(3)} want=${want.take(3)}")
  }

  test("incremental index update converges to the full-build answer") {
    val docs = Tables.documents(spark, sfDir)
    val isBatch = col("doc_id") % 10 < 2 // the ns_dedup_incremental 20% batch
    val root = tmpRoot("graft_bm25_incr")
    IndexOps.buildBm25Index(docs.where(!isBatch), root)
    val partial = IndexOps.queryBm25Index(spark, root).collect()
    IndexOps.updateBm25Index(docs.where(isBatch), root)
    val got = IndexOps.queryBm25Index(spark, root).collect().map(_.toSeq).toSeq
    val want = TextOps.nsTextBm25(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(partial.length != got.length || partial.map(_.toSeq).toSeq != got,
      "the 80% build already equaled the full corpus — update untested")
    assert(got == want, s"post-update mismatch: sizes ${got.size} vs ${want.size}")
    // Side stats converged too: the stored 1-row stats equal a recount of
    // the stored doclen table.
    val stats = spark.read.parquet(s"$root/stats").select("n_docs", "n_toks").first()
    val re = spark.read.parquet(s"$root/doclen")
      .agg(count(lit(1)), sum("dlen")).first()
    assert(stats.getLong(0) == re.getLong(0) && stats.getLong(1) == re.getLong(1))
  }

  test("re-delivering the same batch is idempotent (LWW on the term/doc key)") {
    val docs = Tables.documents(spark, sfDir)
    val isBatch = col("doc_id") % 10 < 2
    val root = tmpRoot("graft_bm25_idem")
    IndexOps.buildBm25Index(docs.where(!isBatch), root)
    IndexOps.updateBm25Index(docs.where(isBatch), root)
    val once = IndexOps.queryBm25Index(spark, root).collect().map(_.toSeq).toSeq
    IndexOps.updateBm25Index(docs.where(isBatch), root) // replayed delivery
    val twice = IndexOps.queryBm25Index(spark, root).collect().map(_.toSeq).toSeq
    assert(once == twice, "a replayed batch changed the served answer")
    val postings = spark.read.parquet(s"$root/postings")
    assert(postings.groupBy("wd", "doc_id").count().where(col("count") > 1).isEmpty,
      "replay duplicated posting rows")
  }

  test("ivf served from the stored index equals the in-session query") {
    val want = SimilarityOps.nsSimIvfTopk(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    val got = IndexOps.nsSimIvfIndexed(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(got == want, s"ivf index-served mismatch: got=${got.take(3)} want=${want.take(3)}")
  }

  test("incremental ivf update converges to a full assign under the same model") {
    import graft.model.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val isBatch = col("vec_id") % 10 < 2
    val root = tmpRoot("graft_ivf_incr")
    IndexOps.buildIvfIndex(emb.where(!isBatch), root)
    val partial = spark.read.parquet(s"$root/assignments").count()
    IndexOps.updateIvfIndex(emb.where(isBatch), root)
    // stored assignments == assigning EVERY vector against the stored
    // (80%-corpus) centroid model — the batch must not have re-clustered
    val cents = spark.read.parquet(s"$root/centroids")
      .select(col("cent_id").cast("int"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val want = emb.withColumn("cluster",
      SimilarityOps.centroidRanking(SimilarityOps.centLits(cents))(0)("cent_id").cast("int"))
      .select("vec_id", "cluster")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = spark.read.parquet(s"$root/assignments")
      .select(col("vec_id"), col("cluster").cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(partial < got.size, "update added nothing — test is vacuous")
    assert(got == want, s"stored assignment diverges from the model: " +
      s"${(got.toSet -- want.toSet).take(3)}")
    // replay idempotency: re-delivering the batch changes nothing
    IndexOps.updateIvfIndex(emb.where(isBatch), root)
    val again = spark.read.parquet(s"$root/assignments")
      .select(col("vec_id"), col("cluster").cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(again == got, "replayed batch mutated the index")
    assert(Tables.embeddings(spark, sfDir).count() == got.size)
  }

  test("ivfpq served from the stored index equals the in-session query") {
    val want = SimilarityOps.nsSimIvfPqTopk(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    val got = IndexOps.nsSimIvfPqIndexed(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(got == want, s"ivfpq index-served mismatch: got=${got.take(3)} want=${want.take(3)}")
  }

  test("incremental ivfpq update converges to a full encode under the stored model") {
    val emb = Tables.embeddings(spark, sfDir)
    val isBatch = col("vec_id") % 10 < 2
    val root = tmpRoot("graft_ivfpq_incr")
    IndexOps.buildIvfPqIndex(emb.where(!isBatch), root)
    val partial = spark.read.parquet(s"$root/codes").count()
    IndexOps.updateIvfPqIndex(emb.where(isBatch), root)
    // Full-corpus rebuild AGAINST THE STORED 80%-MODEL must equal the
    // incrementally-maintained codes row for row (cluster + all 8 codes).
    val fullRoot = tmpRoot("graft_ivfpq_full")
    // build a full index from the stored model by replaying update over
    // an empty-but-modeled index: copy model tables, update with ALL rows
    IndexOps.buildIvfPqIndex(emb.where(!isBatch), fullRoot)
    IndexOps.updateIvfPqIndex(emb, fullRoot) // every vector re-delivered
    def codes(r: String) = spark.read.parquet(s"$r/codes")
      .select(col("vec_id") +: col("cluster").cast("int").as("cluster") +:
        (0 until SimilarityOps.PqSubspaces).map(m => col(s"c$m")): _*)
      .collect().map(row => row.getLong(0) -> row.toSeq.drop(1)).toMap
    val got = codes(root)
    val want = codes(fullRoot)
    assert(partial < got.size, "update added nothing — test is vacuous")
    assert(got == want, "incrementally-maintained codes diverge from a " +
      "stored-model re-encode of the full corpus")
    // replay idempotency
    IndexOps.updateIvfPqIndex(emb.where(isBatch), root)
    assert(codes(root) == got, "replayed batch mutated the index")
  }

  test("minhash index served from storage equals the in-session incremental query") {
    import graft.operators.DedupOps
    val want = DedupOps.nsDedupIncremental(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(want.nonEmpty)
    val got = IndexOps.nsDedupMinhashIndexed(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(got == want, s"dedup index-served mismatch: got=${got.take(3)} want=${want.take(3)}")
    spark.sharedState.cacheManager.clearCache()
  }

  test("incremental dedup-index update converges to the full build; replay idempotent") {
    import graft.model.Tables
    val docs = Tables.documents(spark, sfDir)
    val isBatch = col("doc_id") % 10 < 2
    val root = tmpRoot("graft_dedup_incr")
    IndexOps.buildDedupIndex(docs.where(!isBatch), root)
    val partial = spark.read.parquet(s"$root/banded").count()
    IndexOps.updateDedupIndex(docs.where(isBatch), root)
    val fullRoot = tmpRoot("graft_dedup_full")
    IndexOps.buildDedupIndex(docs, fullRoot)
    def banded(r: String) = spark.read.parquet(s"$r/banded")
      .select(col("doc_id"), col("band_key")).collect()
      .map(row => (row.getLong(0), row.getStruct(1).toSeq)).toSet
    def sets(r: String) = spark.read.parquet(s"$r/sets")
      .select(col("doc_id"), col("shs"), col("c")).collect()
      .map(row => (row.getLong(0), row.getSeq[Long](1).toSet, row.getLong(2))).toSet
    val gotB = banded(root)
    assert(partial < gotB.size, "update added nothing — test is vacuous")
    assert(gotB == banded(fullRoot), "banded table diverges from full build")
    assert(sets(root) == sets(fullRoot), "sets table diverges from full build")
    IndexOps.updateDedupIndex(docs.where(isBatch), root)
    assert(banded(root) == gotB, "replayed batch mutated the banded table")
    spark.sharedState.cacheManager.clearCache()
  }

  test("non-default bucket count: the update path reads the stored layout, not a constant") {
    import graft.model.Tables
    val docs = Tables.documents(spark, sfDir)
    val isBatch = col("doc_id") % 10 < 2
    val root = tmpRoot("graft_dedup_nb")
    // 32 buckets — NOT the 8-bucket floor the fixture corpus would get.
    IndexOps.buildDedupIndex(docs.where(!isBatch), root, buckets = 32)
    assert(graft.ops.ArtifactMeta.readBuckets(spark, root, "banded") == 32)
    // the stored layout really is 32-way (more than 8 distinct bucket ids
    // is only possible if both build AND update hash modulo the stored
    // count) — bucket is a sorted DATA column of the coalesced log now,
    // not a directory
    def buckets(t: String) = spark.read.parquet(s"$root/$t")
      .where(col("seq") === 0).select("bucket").distinct().count()
    assert(buckets("sets") > 8, s"sets seq=0 buckets ${buckets("sets")}")
    assert(buckets("banded") > 8, s"banded seq=0 buckets ${buckets("banded")}")
    // The serve path over the non-default layout answers exactly the
    // default layout's rows (bucketing is layout, never semantics) —
    // queried BEFORE the update merges the batch into the index.
    val got = IndexOps.queryDedupIndex(spark, root, docs.where(isBatch))
      .collect().map(_.toSeq).toSeq
    val want = graft.operators.DedupOps.nsDedupIncremental(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(got == want, "non-default bucket count changed served rows")
    IndexOps.updateDedupIndex(docs.where(isBatch), root)
    val fullRoot = tmpRoot("graft_dedup_nbfull")
    IndexOps.buildDedupIndex(docs, fullRoot, buckets = 32)
    def banded(r: String) = spark.read.parquet(s"$r/banded")
      .select(col("doc_id"), col("band_key")).collect()
      .map(row => (row.getLong(0), row.getStruct(1).toSeq)).toSet
    assert(banded(root) == banded(fullRoot),
      "32-bucket incremental update diverges from the 32-bucket full build")
    spark.sharedState.cacheManager.clearCache()
  }

  test("banded/postings maintenance is append-only: a batch writes only its own seq partition") {
    import graft.model.Tables
    val docs = Tables.documents(spark, sfDir)
    val b1 = col("doc_id") % 10 < 2
    val b2 = col("doc_id") % 10 >= 2 && col("doc_id") % 10 < 4
    val hist = col("doc_id") % 10 >= 4
    val root = tmpRoot("graft_dedup_append")
    IndexOps.buildDedupIndex(docs.where(hist), root)
    def inv(t: String): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$root/$t"))
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .map(f => f.getPath -> ((f.length, f.lastModified))).toMap
    }
    val after0 = inv("banded")
    IndexOps.updateDedupIndex(docs.where(b1), root)
    val after1 = inv("banded")
    after0.foreach { case (p, m) =>
      assert(after1.get(p).contains(m), s"batch-1 append rewrote prior banded file $p")
    }
    val new1 = after1.keySet -- after0.keySet
    assert(new1.nonEmpty && new1.forall(_.contains("seq=1")),
      s"batch-1 rows landed outside seq=1: ${new1.filterNot(_.contains("seq=1")).take(3)}")
    // replaying the SAME batch appends nothing (the new-docs anti-join
    // filters every re-delivered doc before any write)
    IndexOps.updateDedupIndex(docs.where(b1), root)
    assert(inv("banded") == after1, "replayed batch mutated the banded log")
    // a genuinely new second batch appends only its own partition
    IndexOps.updateDedupIndex(docs.where(b2), root)
    val after2 = inv("banded")
    after1.foreach { case (p, m) =>
      assert(after2.get(p).contains(m), s"batch-2 append rewrote prior banded file $p")
    }
    assert((after2.keySet -- after1.keySet).forall(_.contains("seq=2")))
    spark.sharedState.cacheManager.clearCache()
  }

  test("classifier served from the stored model equals the in-session trained query") {
    val want = TextOps.nsTextClassifyTrained(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(want.nonEmpty, "fixture produced no classifier rows — test is vacuous")
    val got = IndexOps.nsTextClassifyIndexed(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(got == want, s"model-served mismatch: got=${got.take(3)} want=${want.take(3)}")
  }

  test("the stored weight artifact is exactly the train query's weight vector") {
    val root = tmpRoot("graft_cls_art")
    IndexOps.buildClassifierIndex(Tables.documents(spark, sfDir), root)
    val stored = spark.read.parquet(s"$root/weights")
      .select("bucket_id", "weight_u").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    val want = TextOps.nsTextClassifyTrain(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(stored == want, "artifact weights diverge from the train query")
    // Model refresh is a rebuild: publishing again over the same corpus
    // must leave the served answer byte-identical (atomic swap, no merge).
    val once = IndexOps.queryClassifierIndex(spark, root,
      Tables.documents(spark, sfDir)).collect().map(_.toSeq).toSeq
    IndexOps.buildClassifierIndex(Tables.documents(spark, sfDir), root)
    val twice = IndexOps.queryClassifierIndex(spark, root,
      Tables.documents(spark, sfDir)).collect().map(_.toSeq).toSeq
    assert(once == twice, "a rebuild over the same corpus changed the served answer")
  }

  test("ivf index query reads only probed clusters (partition pruning)") {
    val root = tmpRoot("graft_ivf_prune")
    IndexOps.buildIvfIndex(Tables.embeddings(spark, sfDir), root)
    // A single-cluster filter over the stored assignments must prune to
    // one partition directory in the scan.
    val one = spark.read.parquet(s"$root/assignments").where(col("cluster") === 3)
    val scan = one.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("cluster"), s"no partition filter in scan: $scan")
    assert(one.count() > 0)
  }
}
