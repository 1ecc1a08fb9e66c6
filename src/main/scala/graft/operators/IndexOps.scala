package graft.operators

import graft.functions.cosineSim
import graft.model.Tables
import graft.ops.{MergeSink, ProcessTmp}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED index artifacts — the missing half of the retrieval families:
  * instead of rebuilding the BM25 postings / IVF inverted lists in-session
  * per query (a `.cache()` dies with the session), the index is WRITTEN
  * ONCE as bucketed parquet via the write-audit-publish sink and queries
  * answer from the stored artifact, with incremental maintenance for
  * newly-arrived documents (the [[DedupOps.nsDedupIncremental]] pattern
  * applied to retrieval). Reference analog: its materialized MySQL tables
  * (/root/reference/src/utils/data_utils.py:10-15) are exactly this
  * write-once/serve-many layout.
  *
  * BM25 layout (all under one root; every corpus-scaled table is a
  * COALESCED `seq=N` log — bucket a sorted data column, see [[graft.ops.MergeSink.appendLogSeq]]):
  *   - `postings/`  (wd, doc_id, tf, bucket=hash(term)): a term's whole
  *     posting list shares one bucket id, so a query's 12-term fan-out
  *     prunes to <= 12 buckets' row groups and — the property the
  *     incremental path leans on — per-term document frequency is
  *     recomputable WITHIN a bucket, no global shuffle.
  *   - `termstats/` (wd, df)          same term bucket; df DELTAS, summed.
  *   - `doclen/`    (doc_id, dlen)    doc-keyed bucket.
  *   - `stats/`     (n_docs, n_toks)  one row.
  *
  * IVF layout: `assignments/` (vec_id, embedding, label, cluster)
  * partitioned by cluster — cluster count is MODEL-scale (k), not
  * corpus-scale, so directory-per-cluster is the right layout there and
  * a probe reads exactly its clusters' files — plus `centroids/`
  * (cent_id, embedding), metadata-scale.
  *
  * Incremental maintenance is append-only throughout ([[graft.ops.MergeSink.appendLogSeq]]):
  * immutable-row tables append the batch's own rows; the mutable graph
  * adjacency appends group-replace generations. Cluster-partitioned IVF
  * tables (k-bounded layouts) keep touched-partition LWW upserts. Either
  * way a batch's I/O is batch-proportional, never corpus-proportional.
  *
  * BUCKET COUNTS SCALE WITH THE CORPUS ([[graft.ops.ArtifactMeta]]): each
  * build sizes its bucket count at a fixed target bucket SIZE, persists
  * it in the artifact's `meta/` table, and every update path reads it
  * back; per-generation FILE count stays independent of the bucket count
  * ([[graft.ops.ArtifactMeta.filesFor]] — the round-10 directory-per-
  * bucket layout put 256 dirs per table at 100k docs and its per-file
  * fixed costs grew the delta wall 2.1× over a 20× corpus at flat
  * shuffle).
  *
  * Every build ends with a COMMIT RECORD ([[graft.ops.ArtifactMeta
  * .commit]]); the registered `ns_*_indexed` queries are GATED on it —
  * they build only when the artifact is absent and otherwise measure the
  * SERVE cost alone, while the `ns_*_index_build` twins rebuild
  * unconditionally and carry the build cost (the
  * pipe_platform_delta commit-record pattern applied to the index
  * families, so the per-round gate times build and serve apart).
  */
object IndexOps {

  import graft.ops.ArtifactMeta

  private def termBucket(buckets: Int) =
    pmod(xxhash64(col("wd")), lit(buckets.toLong)).cast("int")
  private def docBucket(buckets: Int) =
    pmod(col("doc_id"), lit(buckets.toLong)).cast("int")

  /** Every corpus-scaled table here is an append log (`seq=N`
    * generations, claimed atomically — [[graft.ops.MergeSink.appendLogSeq]],
    * so two deltas racing one table get DISTINCT generations instead of
    * the second swap retiring the first) published COALESCED
    * ([[graft.ops.MergeSink.publishLogSeq]]): the bucket id is a SORTED
    * DATA column inside a few files per generation, so row-group stats
    * give readers the pruning a directory-per-bucket layout gave at a
    * file count independent of the bucket count. IMMUTABLE-ROW tables
    * (banded signatures, BM25 postings, doc lengths) append exactly the
    * batch's own rows after the new-docs anti-join — a batch's keys
    * (4000 band keys, tens of thousands of terms) touch essentially
    * EVERY bucket, so a touched-bucket upsert-rewrite moved corpus-scale
    * bytes per batch (measured 6→160 MB over a 20× corpus at a FIXED
    * 500-doc batch before round 10). MUTABLE-GROUP tables (graph
    * adjacency) are GROUP-REPLACE logs: a generation carries the
    * complete new row-group per touched key and readers resolve via
    * [[graft.ops.MergeSink.resolveKeyLog]]. Idempotency holds by
    * construction: a publish torn mid-swap never became visible, so a
    * crash-replay publishes the same rows under a fresh claimed
    * generation (the torn claim burns its number), and cross-batch
    * re-delivery is filtered by the new-docs anti-join before anything
    * appends. [[graft.ops.MergeSink.compactKeyLog]] folds logs back
    * periodically.
    */

  /** Build the full BM25 index from a corpus and publish it atomically.
    * One postings shuffle; every side table derives from the cached
    * postings (the stored side-stat layout of a real inverted index).
    * `buckets` ≤ 0 (the default) sizes the layout from the corpus at
    * [[graft.ops.ArtifactMeta.DocsPerBucket]]; the chosen count is
    * persisted in `meta/` for the update path.
    */
  def buildBm25Index(docs: DataFrame, root: String, buckets: Int = 0): Unit = {
    val b = if (buckets > 0) buckets else ArtifactMeta.bucketsFor(docs.count())
    val files = ArtifactMeta.filesFor(b)
    val tf = TextOps.bm25Postings(docs).cache()
    try {
      val dlen = tf.groupBy("doc_id").agg(sum("tf").as("dlen"))
      // postings + termstats + doclen are coalesced APPEND LOGS (seq=N
      // with bucket a sorted data column — see [[graft.ops.MergeSink.appendLogSeq]]): the build is
      // seq=0; termstats rows are per-term df DELTAS the reader sums (the
      // build's deltas ARE the totals); doclen rows are immutable per doc
      // (only genuinely-new docs ever append).
      MergeSink.publishLogSeq(tf.withColumn("bucket", termBucket(b)),
        s"$root/postings", 0, files, Seq("bucket", "wd"))
      MergeSink.publishLogSeq(
        tf.groupBy("wd").agg(count(lit(1)).as("df"))
          .withColumn("bucket", termBucket(b)),
        s"$root/termstats", 0, files, Seq("bucket", "wd"))
      MergeSink.publishLogSeq(dlen.withColumn("bucket", docBucket(b)),
        s"$root/doclen", 0, files, Seq("bucket", "doc_id"))
      MergeSink.publishPartitioned(
        dlen.agg(count(lit(1)).as("n_docs"), sum("dlen").as("n_toks"))
          .withColumn("bucket", lit(0)), s"$root/stats", "bucket")
      ArtifactMeta.write(docs.sparkSession, root,
        Map("buckets.postings" -> b.toLong, "buckets.doclen" -> b.toLong))
      ArtifactMeta.commit(docs.sparkSession, root)
    } finally tf.unpersist()
  }

  /** Merge a batch of NEWLY-ARRIVED documents into a stored BM25 index
    * with BATCH-PROPORTIONAL I/O:
    *   1. identify the genuinely-NEW docs — anti-join the batch's ids
    *      against the stored doclen slice their doc-buckets prune to
    *      (cross-batch re-delivery filters out HERE, so the appends below
    *      are idempotent end to end);
    *   2. APPEND the new docs' postings under their own `seq=N` partition
    *      ([[graft.ops.MergeSink.appendLogSeq]] — a term's batch keys touch essentially every term
    *      bucket, so the old touched-bucket rewrite moved corpus-scale
    *      bytes; the append moves exactly the batch's rows);
    *   3. APPEND per-term df DELTAS to the termstats log (the reader
    *      sums — additive maintenance for an additive statistic);
    *   4. APPEND the new docs' lengths (immutable per doc) and refresh
    *      the 1-row corpus stats.
    */
  def updateBm25Index(docs: DataFrame, root: String): Unit = {
    val spark = docs.sparkSession
    val pBuckets = ArtifactMeta.readBuckets(spark, root, "postings")
    val dBuckets = ArtifactMeta.readBuckets(spark, root, "doclen")
    val tf = TextOps.bm25Postings(docs).cache()
    try {
      val newDlen = tf.groupBy("doc_id").agg(sum("tf").as("dlen"))
        .withColumn("bucket", docBucket(dBuckets))
      val touchedDoc = newDlen.select("bucket").distinct()
        .collect().map(_.getInt(0)).toSeq // bounded by min(batch docs, buckets)
      val oldDlen = spark.read.parquet(s"$root/doclen")
        .where(col("bucket").isin(touchedDoc: _*))
        .select(col("doc_id"), col("dlen"), col("bucket").cast("int"))
      val newDocs = newDlen.select("doc_id")
        .join(oldDlen.select("doc_id"), Seq("doc_id"), "left_anti")
        .localCheckpoint() // pin: reads the PRE-append doclen slice
      val freshTf = tf.join(broadcast(newDocs), Seq("doc_id"), "left_semi")
      MergeSink.appendLogSeq(freshTf.withColumn("bucket", termBucket(pBuckets)),
        s"$root/postings", ArtifactMeta.AppendFiles, Seq("bucket", "wd"))
      MergeSink.appendLogSeq(
        freshTf.groupBy("wd").agg(count(lit(1)).as("df"))
          .withColumn("bucket", termBucket(pBuckets)),
        s"$root/termstats", ArtifactMeta.AppendFiles, Seq("bucket", "wd"))
      MergeSink.appendLogSeq(
        newDlen.join(broadcast(newDocs), Seq("doc_id"), "left_semi"),
        s"$root/doclen", ArtifactMeta.AppendFiles, Seq("bucket", "doc_id"))
      // Additive stats refresh: old 1-row totals + the genuinely-new
      // docs' contribution — no full doclen re-scan per batch.
      val add = newDlen.join(broadcast(newDocs), Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("d_docs"), coalesce(sum("dlen"), lit(0L)).as("d_toks"))
        .head()
      val old = spark.read.parquet(s"$root/stats")
        .select("n_docs", "n_toks").head()
      import spark.implicits._
      MergeSink.publishPartitioned(
        Seq((old.getLong(0) + add.getLong(0), old.getLong(1) + add.getLong(1)))
          .toDF("n_docs", "n_toks").withColumn("bucket", lit(0)),
        s"$root/stats", "bucket")
    } finally tf.unpersist()
  }

  /** Answer BM25 more-like-this FROM the stored artifact: reads the four
    * index tables and runs the shared [[TextOps.bm25Search]] stage — the
    * corpus text is never touched. Row-identical to [[TextOps.nsTextBm25]]
    * over the same corpus (Bm25IndexSpec; the registered query shares its
    * oracle).
    */
  def queryBm25Index(spark: SparkSession, root: String,
      dfCeiling: Long = Long.MaxValue): DataFrame = {
    val tf = spark.read.parquet(s"$root/postings").select("doc_id", "wd", "tf")
    val dlen = spark.read.parquet(s"$root/doclen").select("doc_id", "dlen")
    // termstats is an additive delta log — total df per term is the sum
    // over its seq partitions (term-count scale, bucket-local keys).
    val dfreq = spark.read.parquet(s"$root/termstats")
      .groupBy("wd").agg(sum("df").as("df"))
    val stats = spark.read.parquet(s"$root/stats").select("n_docs", "n_toks")
    TextOps.bm25Search(tf, dlen, dfreq, stats, dfCeiling)
  }

  /** Build + publish the IVF index: map-side assignment against the seed
    * centroids (zero exchanges — [[SimilarityOps.centroidRanking]]), then
    * one write partitioned BY CLUSTER so the stored inverted lists are the
    * partition layout itself.
    */
  def buildIvfIndex(emb: DataFrame, root: String): Unit = {
    import emb.sparkSession.implicits._
    val cents = SimilarityOps.seedCentroids(emb)
    val assign = emb.withColumn("cluster",
      SimilarityOps.centroidRanking(SimilarityOps.centLits(cents))(0)("cent_id"))
    MergeSink.publishPartitioned(assign, s"$root/assignments", "cluster")
    MergeSink.publishPartitioned(
      cents.toSeq.map { case (cid, v) => (cid, v.toSeq) }
        .toDF("cent_id", "embedding").withColumn("bucket", lit(0)),
      s"$root/centroids", "bucket")
    ArtifactMeta.commit(emb.sparkSession, root)
  }

  /** Merge a batch of NEWLY-ARRIVED vectors into a stored IVF index:
    * assignment runs against the STORED centroid model (the index's
    * model, never retrained — a batch re-clustering would move existing
    * inverted lists), and only the clusters the batch lands in are read
    * and republished (k-bounded touched list; untouched inverted lists
    * are never opened). Re-delivery is LWW-idempotent on vec_id WITHIN
    * the delivered clusters; the contract is the BM25 store's:
    * at-least-once delivery of IMMUTABLE vectors (a re-delivered vec_id
    * carries the same embedding, so it deterministically lands in the
    * same cluster — mutating a vector's embedding requires an explicit
    * delete pass, exactly as in any content-addressed store).
    */
  def updateIvfIndex(emb: DataFrame, root: String): Unit = {
    val spark = emb.sparkSession
    val cents = spark.read.parquet(s"$root/centroids")
      .select(col("cent_id").cast("int"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val assign = emb.withColumn("cluster",
      SimilarityOps.centroidRanking(SimilarityOps.centLits(cents))(0)("cent_id"))
    val touched = assign.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by the cluster count
    val cols = assign.columns
    val old = spark.read.parquet(s"$root/assignments")
      .where(col("cluster").isin(touched: _*))
      .select(cols.map(c => col(c).cast(assign.schema(c).dataType)): _*)
    MergeSink.publishPartitioned(
      MergeSink.upsert(old, assign, Seq("vec_id")), s"$root/assignments", "cluster")
  }

  /** IVF top-k FROM the stored artifact: centroids are read back to the
    * driver (k x dim — metadata scale, the MLlib KMeans posture), the
    * stored cluster assignment is trusted (never recomputed), and only
    * the probe/rerank stage runs ([[SimilarityOps.ivfProbeRerank]] — the
    * same stage the in-session query uses). Partition pruning on
    * `cluster` means each query's probes read exactly their inverted
    * lists' files.
    */
  def queryIvfIndex(spark: SparkSession, root: String): DataFrame = {
    val cents = spark.read.parquet(s"$root/centroids")
      .select(col("cent_id").cast("int"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val stored = spark.read.parquet(s"$root/assignments")
    val assign = stored.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"), col("cluster").cast("int").as("cluster"))
    val queries = stored.where(col("vec_id") < SimilarityOps.NumQueries)
      .select(col("vec_id"), col("embedding"))
    SimilarityOps.ivfProbeRerank(assign, queries, SimilarityOps.centLits(cents))
  }

  /** Build + publish the IVF+PQ index — the canonical production ANN
    * artifact: per-vector cluster + 8 PQ codes from one map-side
    * projection, written partitioned BY CLUSTER (the inverted lists of
    * 4-byte codes), plus the two metadata-scale model tables (centroids,
    * codebooks). At 100 TB the codes table is ~1/64 the corpus bytes and
    * each query's probes read only their clusters' files.
    */
  def buildIvfPqIndex(emb: DataFrame, root: String): Unit = {
    import emb.sparkSession.implicits._
    val cents = SimilarityOps.seedCentroids(emb)
    val books = SimilarityOps.pqCodebooks(emb)
    val codeCols = (0 until SimilarityOps.PqSubspaces)
      .map(m => SimilarityOps.pqCodeCol(m, books).as(s"c$m"))
    val codes = emb.select(col("vec_id") +:
      SimilarityOps.centroidRanking(SimilarityOps.centLits(cents))(0)("cent_id").as("cluster") +:
      codeCols: _*)
    MergeSink.publishPartitioned(codes, s"$root/codes", "cluster")
    MergeSink.publishPartitioned(
      cents.toSeq.map { case (cid, v) => (cid, v.toSeq) }
        .toDF("cent_id", "embedding").withColumn("bucket", lit(0)),
      s"$root/centroids", "bucket")
    val bookRows = for {
      m <- books.indices; k <- books(m).indices
    } yield (m, k, books(m)(k).toSeq)
    MergeSink.publishPartitioned(
      bookRows.toDF("m", "code", "cv").withColumn("bucket", lit(0)),
      s"$root/codebooks", "bucket")
    ArtifactMeta.commit(emb.sparkSession, root)
  }

  private def readCentroids(spark: SparkSession, root: String): Array[(Int, Array[Double])] =
    spark.read.parquet(s"$root/centroids")
      .select(col("cent_id").cast("int"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1)

  private def readCodebooks(spark: SparkSession, root: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(s"$root/codebooks")
      .select(col("m").cast("int"), col("code").cast("int"), col("cv"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val bySub = rows.groupBy(_._1)
    Array.tabulate(bySub.size) { m =>
      bySub(m).sortBy(_._2).map(_._3)
    }
  }

  /** Merge a batch of NEWLY-ARRIVED vectors into a stored IVF+PQ index:
    * cluster assignment AND PQ encoding both run against the STORED
    * model (centroids + codebooks — never retrained, the
    * [[updateIvfIndex]] contract: re-clustering or re-training would
    * silently re-key existing lists/codes), and only the touched
    * clusters are read and republished. LWW-idempotent on vec_id within
    * the delivered clusters.
    */
  def updateIvfPqIndex(emb: DataFrame, root: String): Unit = {
    val spark = emb.sparkSession
    val cents = readCentroids(spark, root)
    val books = readCodebooks(spark, root)
    val codeCols = (0 until SimilarityOps.PqSubspaces)
      .map(m => SimilarityOps.pqCodeCol(m, books).as(s"c$m"))
    val assign = emb.select(col("vec_id") +:
      SimilarityOps.centroidRanking(SimilarityOps.centLits(cents))(0)("cent_id").as("cluster") +:
      codeCols: _*)
    val touched = assign.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by the cluster count
    val cols = assign.columns
    val old = spark.read.parquet(s"$root/codes")
      .where(col("cluster").isin(touched: _*))
      .select(cols.map(c => col(c).cast(assign.schema(c).dataType)): _*)
    MergeSink.publishPartitioned(
      MergeSink.upsert(old, assign, Seq("vec_id")), s"$root/codes", "cluster")
  }

  /** IVF+PQ top-k FROM the stored artifact: model tables read back to the
    * driver (metadata scale), stored codes trusted, query vectors are
    * RUNTIME INPUT (an index stores the corpus, not the queries) ranked
    * against the stored centroids, then the shared
    * [[SimilarityOps.ivfPqAdcSearch]] stage.
    */
  def queryIvfPqIndex(spark: SparkSession, root: String, queries: DataFrame): DataFrame = {
    val cents = readCentroids(spark, root)
    val books = readCodebooks(spark, root)
    val stored = spark.read.parquet(s"$root/codes")
    val cands = stored.select(col("vec_id").as("neighbor_id") +:
      col("cluster").cast("int").as("cluster") +:
      (0 until SimilarityOps.PqSubspaces).map(m => col(s"c$m")): _*)
    val probes = queries
      .withColumn("_cr", SimilarityOps.centroidRanking(SimilarityOps.centLits(cents)))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(slice(col("_cr"), 1, SimilarityOps.IvfProbes)).as("pr"))
      .select(col("query_id"), col("q_emb"), col("pr")("cent_id").as("cluster"))
    SimilarityOps.ivfPqAdcSearch(cands, probes, books)
  }

  /** Build + publish the NAVIGABLE GRAPH artifact the HNSW-lite beam
    * search walks ([[SimilarityOps.beamGraphEdges]]: LSH-seeded k-NN
    * refined by NN-descent, symmetrized, degree-capped at M_max) —
    * the expensive offline job, stored once like the IVF/BM25 indexes
    * instead of being rebuilt inside every serving query. Edge rows
    * (src_id, nbr_id) are bucketed by src_id: a node's whole adjacency
    * list lives in one bucket, reads parallelize across buckets, and the
    * incremental posture matches the dedup index (a future insert path
    * touches only the buckets its node ids hash into).
    */
  /** Recall floor the stored graph's beam width is tuned against at
    * build time — the same 0.75 the IVF multi-probe row and the
    * GraphBeamSpec tuning table pin.
    */
  private[graft] val GraphRecallTarget = 0.75

  /** `pinnedEf`: build at a caller-fixed beam width instead of tuning —
    * the registered `ns_sim_graph_indexed` query uses this, because it
    * shares the STATIC `ns_sim_graph_beam` oracle, which replays the
    * constant-[[SimilarityOps.BeamEf]] walk; a tuner that lands on a
    * different width at some fixture scale would make the serve result
    * diverge from its own oracle (measured: the sf0.1 driver fixture
    * sits at recall 0.74 @ ef 8, one step under the floor, so the tuner
    * stored 16 there). A pinned build still measures and records the
    * recall at that width — the artifact never claims an untested floor.
    */
  def buildGraphIndex(spark: SparkSession, dir: String, root: String,
      nodeFilter: Column = lit(true), pinnedEf: Option[Int] = None): Unit = {
    val nodes = Tables.embeddings(spark, dir).where(nodeFilter)
    val b = ArtifactMeta.bucketsFor(nodes.count())
    val edges = SimilarityOps.beamGraphEdgesFrom(nodes)
    // Tune ef AT THIS INDEX'S SCALE on the just-built edges (one truth
    // pass + usually one walk — see [[SimilarityOps.tuneEfOn]]) and store
    // BOTH the chosen ef and the recall it actually measured: the serve
    // path walks at the width the build measured, and a consumer can read
    // `beam_recall_pm` (recall@TopK, per-mille) instead of trusting a
    // floor the data may not admit — on iid uniform vectors no bounded
    // walk holds 0.75 as N grows, and the tuner records that honestly.
    val (ef, recall) = SimilarityOps.tuneEfOn(spark, dir, GraphRecallTarget,
      edges, nodeFilter, pinnedEf.map(Seq(_)).getOrElse(
        Seq(SimilarityOps.BeamEf, 2 * SimilarityOps.BeamEf,
          4 * SimilarityOps.BeamEf, 8 * SimilarityOps.BeamEf)))
    // Adjacency is a GROUP-REPLACE log keyed by src_id (an insert batch
    // republishes each touched node's COMPLETE re-ranked adjacency under
    // its own seq) — readers resolve via [[readGraphEdges]].
    MergeSink.publishLogSeq(
      edges.withColumn("bucket", pmod(col("src_id"), lit(b.toLong)).cast("int")),
      s"$root/edges", 0, ArtifactMeta.filesFor(b), Seq("bucket", "src_id"))
    ArtifactMeta.write(spark, root,
      Map("buckets.edges" -> b.toLong, "beam_ef" -> ef.toLong,
        "beam_recall_pm" -> math.round(recall * 1000)))
    ArtifactMeta.commit(spark, root)
  }

  /** Resolved (src_id, nbr_id) view of the stored adjacency log — the
    * read every walk/update over the graph artifact shares.
    */
  private[graft] def readGraphEdges(spark: SparkSession, root: String): DataFrame =
    MergeSink.resolveKeyLog(spark, s"$root/edges", Seq("src_id"))
      .select("src_id", "nbr_id")

  /** HNSW-style INSERT of newly-arrived vectors into the stored
    * navigable graph — the graph's member of the incremental-maintenance
    * family (BM25/IVF/IVF+PQ/dedup updates above): for each batch vector,
    * a beam search over the STORED graph (scored against the indexed
    * subset only — the batch is not in the graph yet) finds its
    * [[SimilarityOps.RefineK]] nearest indexed nodes; links are added in
    * BOTH directions; every touched node's adjacency (batch nodes + the
    * indexed nodes they linked) is re-ranked by exact cosine and
    * degree-capped at [[SimilarityOps.BeamMaxDegree]] (HNSW's M_max —
    * the walk-cost bound survives inserts); and each touched node's
    * COMPLETE re-ranked adjacency is APPENDED as one group-replace
    * generation of the edge log ([[readGraphEdges]] resolves) — nothing
    * stored is read back for the publish, let alone rewritten.
    *
    * Per-batch cost: batch × (entry scan + walk bound) for the search,
    * touched × M_max for the re-rank, touched-row I/O for the append —
    * batch-proportional throughout. The NN-descent build never re-runs.
    * Approximation contract: an inserted graph is not byte-identical to
    * a from-scratch rebuild (true of HNSW insertion generally);
    * GraphBeamSpec pins structure (degree cap, bidirectional
    * reachability of every inserted node) and recall parity with the
    * scratch-built graph on the standard query suite.
    */
  def updateGraphIndex(spark: SparkSession, dir: String, root: String,
      isBatch: Column): Unit = {
    val graphBuckets = ArtifactMeta.readBuckets(spark, root, "edges")
    val emb = Tables.embeddings(spark, dir)
    val batchQ = emb.where(isBatch)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val storedEf = ArtifactMeta.readLong(spark, root, "beam_ef").toInt
    val old = readGraphEdges(spark, root)
    val links = SimilarityOps.graphBeamFor(spark, dir,
        storedEf, SimilarityOps.BeamHops, old, batchQ,
        !isBatch, SimilarityOps.RefineK)
      .select(col("query_id").as("src_id"), col("neighbor_id").as("nbr_id"))
    val newEdges = links.unionByName(
      links.select(col("nbr_id").as("src_id"), col("src_id").as("nbr_id")))
    val touchedSrc = newEdges.select("src_id").distinct()
    val embA = emb.select(col("vec_id").as("src_id"), col("embedding").as("ea"))
    val embB = emb.select(col("vec_id").as("nbr_id"), col("embedding").as("eb"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src_id")
      .orderBy(col("cos").desc, col("nbr_id").asc)
    val rebuilt = old.join(touchedSrc, Seq("src_id"), "left_semi")
      .unionByName(newEdges).distinct()
      .join(embA, "src_id").join(embB, "nbr_id")
      .withColumn("cos", round(cosineSim(col("ea"), col("eb")), 4))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= SimilarityOps.BeamMaxDegree)
      .select("src_id", "nbr_id")
      .withColumn("bucket", pmod(col("src_id"), lit(graphBuckets.toLong)).cast("int"))
      .localCheckpoint() // one beam-search execution; pin before publish
    MergeSink.appendLogSeq(rebuilt, s"$root/edges",
      ArtifactMeta.AppendFiles, Seq("bucket", "src_id"))
  }

  /** Beam-search top-k FROM the stored graph artifact: reads the edge
    * list and runs ONLY the walk ([[SimilarityOps.graphBeam]] — coarse
    * entry scan + [[SimilarityOps.BeamHops]] hops at
    * [[SimilarityOps.BeamEf]]); NN-descent never re-runs. This is the
    * serving cost the graph index exists for: per query,
    * ~N/[[SimilarityOps.BeamCoarse]] + hops·ef·(M_max+1) candidates —
    * the walk term independent of N — against the stored files.
    */
  def queryGraphIndex(spark: SparkSession, root: String, dir: String): DataFrame = {
    val ef = ArtifactMeta.readLong(spark, root, "beam_ef").toInt
    SimilarityOps.graphBeam(spark, dir, ef, SimilarityOps.BeamHops,
      readGraphEdges(spark, root))
  }

  /** Build + publish the near-dup (MinHash) index — the stored form of
    * [[DedupOps.corpusIndex]]: banded signatures bucketed by a hash of
    * the band key (an arriving batch joins only the buckets its own band
    * keys hash into) and the shingle sets bucketed by doc id (the verify
    * stage's side table). Band rows are stored DISTINCT — candidate
    * generation distincts anyway, and a set-valued table is what the
    * LWW-merge incremental path can maintain exactly. `buckets` ≤ 0 sizes
    * the layout from the corpus ([[graft.ops.ArtifactMeta.bucketsFor]]);
    * the count is persisted in `meta/` for the update path.
    */
  def buildDedupIndex(docs: DataFrame, root: String, buckets: Int = 0): Unit = {
    val b = if (buckets > 0) buckets else ArtifactMeta.bucketsFor(docs.count())
    val files = ArtifactMeta.filesFor(b)
    val (banded, sets) = DedupOps.corpusIndex(docs)
    // banded is a coalesced APPEND LOG (seq=N, bucket a sorted data
    // column — see [[graft.ops.MergeSink.appendLogSeq]]): band rows are immutable per (doc, band),
    // and a batch's ~bands×batch band keys touch essentially every band
    // bucket, so LWW rewrites would be corpus-scale per batch. The build
    // is seq=0.
    MergeSink.publishLogSeq(
      banded.distinct()
        .withColumn("bucket", pmod(xxhash64(col("band_key")), lit(b.toLong)).cast("int")),
      s"$root/banded", 0, files, Seq("bucket"))
    // sets is an append log too: its rows are immutable AND fat (the
    // per-doc shingle arrays), so even a bucket-pruned LWW rewrite moved
    // ~25 MB per 500-doc batch — an append moves only the batch's rows.
    MergeSink.publishLogSeq(
      sets.withColumn("bucket", pmod(col("doc_id"), lit(b.toLong)).cast("int")),
      s"$root/sets", 0, files, Seq("bucket", "doc_id"))
    ArtifactMeta.write(docs.sparkSession, root,
      Map("buckets.banded" -> b.toLong, "buckets.sets" -> b.toLong))
    ArtifactMeta.commit(docs.sparkSession, root)
  }

  /** Merge a batch of NEWLY-ARRIVED documents into a stored near-dup
    * index with BATCH-PROPORTIONAL I/O: the batch's genuinely-NEW doc ids
    * (anti-join against the bucket-pruned id projection of the sets log —
    * re-delivered docs filter out here, making every append idempotent)
    * APPEND their band rows AND their shingle-set rows under their own
    * `seq=N` partition ([[graft.ops.MergeSink.appendLogSeq]]). Nothing reads or rewrites
    * corpus-scale state: the previous touched-bucket LWW rewrites moved
    * the whole banded table per batch (a 500-doc batch carries ~4000
    * band keys — every bucket at any sane count) plus ~25 MB of fat
    * shingle-set rows; measured 6→160 MB of maintenance shuffle over a
    * 20× corpus at a fixed batch before the log layout.
    */
  def updateDedupIndex(docs: DataFrame, root: String): Unit = {
    val spark = docs.sparkSession
    val bandedBuckets = ArtifactMeta.readBuckets(spark, root, "banded")
    val setsBuckets = ArtifactMeta.readBuckets(spark, root, "sets")
    val (banded, sets) = DedupOps.corpusIndex(docs)
    val newSets = sets
      .withColumn("bucket", pmod(col("doc_id"), lit(setsBuckets.toLong)).cast("int"))
    val touchedDoc = newSets.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq // bounded by min(batch docs, buckets)
    // New-docs probe: ids only, pruned to the batch's buckets (across all
    // seq partitions of the log) — nothing fat is read.
    val storedIds = spark.read.parquet(s"$root/sets")
      .where(col("bucket").isin(touchedDoc: _*))
      .select("doc_id")
    val newDocs = newSets.select("doc_id").distinct()
      .join(storedIds, Seq("doc_id"), "left_anti")
      .localCheckpoint() // pin: probes the PRE-append log
    MergeSink.appendLogSeq(
      banded.distinct()
        .join(broadcast(newDocs), Seq("doc_id"), "left_semi")
        .withColumn("bucket", pmod(xxhash64(col("band_key")), lit(bandedBuckets.toLong)).cast("int")),
      s"$root/banded", ArtifactMeta.AppendFiles, Seq("bucket"))
    MergeSink.appendLogSeq(
      newSets.join(broadcast(newDocs), Seq("doc_id"), "left_semi"),
      s"$root/sets", ArtifactMeta.AppendFiles, Seq("bucket", "doc_id"))
  }

  /** Near-dup matches of runtime `batchDocs` against the STORED index —
    * the serving form of [[DedupOps.nsDedupIncremental]]: batch shingles
    * compute in-session (queries are runtime input), candidates come
    * from the stored banded table, the verify joins the stored sets.
    */
  def queryDedupIndex(spark: SparkSession, root: String, batchDocs: DataFrame): DataFrame = {
    val banded = spark.read.parquet(s"$root/banded").select("doc_id", "band_key")
    val sets = spark.read.parquet(s"$root/sets").select("doc_id", "shs", "c")
    DedupOps.matchAgainstIndex(batchDocs, banded, sets)
  }

  /** Verified near-dup edges of the indexed corpus against ITSELF, read
    * from the stored artifact ([[DedupOps.pairsFromIndex]]): the
    * survivorship edge generator for a platform build that publishes the
    * index once and derives components from the files — no in-session
    * re-shingling of the corpus. Bucket pruning applies: a band bucket
    * only ever joins itself.
    */
  def dedupEdgesFromIndex(spark: SparkSession, root: String): DataFrame = {
    val banded = spark.read.parquet(s"$root/banded").select("doc_id", "band_key")
    val sets = spark.read.parquet(s"$root/sets").select("doc_id", "shs", "c")
    DedupOps.pairsFromIndex(banded, sets, 0.5)
  }

  // ---- trained-classifier model artifact ----------------------------------

  /** Train the hashed quality classifier and publish its weight vector as
    * a stored MODEL artifact: [[TextOps.ClsDim]] rows of
    * (bucket_id, weight_u) under the same write-audit-publish contract as
    * the index families — a serving fleet reads the model files, never
    * retrains. Unlike the additive artifacts (postings, centroid lists,
    * graph edges), GD weights have no per-doc merge algebra, so model
    * refresh is a REBUILD on the refreshed corpus — the honest update
    * contract for a trained model.
    */
  def buildClassifierIndex(docs: DataFrame, root: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (w, inputs) = TextOps.trainClassifier(docs)
    inputs.unpersist()
    MergeSink.publishPartitioned(
      w.zipWithIndex.map { case (wu, b) => (b.toLong, wu) }.toSeq
        .toDF("bucket_id", "weight_u").withColumn("pt", lit(0)),
      s"$root/weights", "pt",
      audit = a => require(a.count() == TextOps.ClsDim.toLong,
        s"classifier artifact must hold exactly ${TextOps.ClsDim} weights"))
    ArtifactMeta.commit(spark, root)
  }

  /** Score a corpus FROM the stored model: read the [[TextOps.ClsDim]]
    * weight rows (driver state bounded by the model DIMENSION — the
    * readCentroids pattern), then one feature build + in-row margin
    * projection via [[TextOps.scoreClassifier]]. The training loop never
    * runs at serve time. Row-identical to [[TextOps.nsTextClassifyTrained]]
    * over the same corpus (shared oracle).
    */
  def queryClassifierIndex(spark: SparkSession, root: String, docs: DataFrame): DataFrame =
    TextOps.scoreClassifier(docs, readClassifierWeights(spark, root))

  /** The stored weight vector as driver state (bounded by the model
    * DIMENSION — the readCentroids pattern). Shared by the batch serve
    * query and the streaming scoring twin, which loads it ONCE at
    * stream wire-up.
    */
  private[graft] def readClassifierWeights(spark: SparkSession, root: String): Array[Long] = {
    val w = new Array[Long](TextOps.ClsDim)
    spark.read.parquet(s"$root/weights").select("bucket_id", "weight_u")
      .collect().foreach(r => w(r.getLong(0).toInt) = r.getLong(1))
    w
  }

  // ---- registered queries -------------------------------------------------

  /** Per-process artifact root: unique per JVM (concurrent sbt sessions
    * never contend) and removed on exit; one subdir per fixture dir so
    * sf0.001 specs and sf0.01 Verify runs don't cross-pollute.
    */
  private lazy val artifactRoot: String = ProcessTmp.dir("graft_index")
  private def rootFor(kind: String, dir: String): String =
    s"$artifactRoot/${kind}_${dir.replaceAll("[^A-Za-z0-9.]", "_")}"

  /** Build-then-serve, end to end, as ONE oracled query: publish the
    * index artifact, then answer from the files just written. The oracle
    * is byte-identical to the in-session query's — "a user could swap the
    * cached pipeline for the stored index and every row survives".
    *
    * Each family registers a BUILD/SERVE pair sharing that oracle (the
    * pipe_platform_delta commit-record pattern): `ns_*_index_build`
    * rebuilds the artifact UNCONDITIONALLY and then serves — every
    * evaluation carries the honest NN-descent/postings/training cost —
    * while `ns_*_indexed` is GATED on the build's commit record and
    * otherwise serves from the stored files alone, so the per-round
    * bench times the serving cost the index exists for (Bench evaluates
    * alphabetically, so the `_index_build` twin has always materialized
    * the root before `_indexed` runs).
    */
  private def ensureBuilt(spark: SparkSession, root: String, forceBuild: Boolean)(
      build: => Unit): Unit =
    if (forceBuild || ArtifactMeta.tryReadLong(spark, root, "commit").isEmpty) build

  private def bm25At(spark: SparkSession, dir: String, forceBuild: Boolean): DataFrame = {
    val root = rootFor("bm25", dir)
    ensureBuilt(spark, root, forceBuild)(buildBm25Index(Tables.documents(spark, dir), root))
    queryBm25Index(spark, root)
  }
  def nsTextBm25IndexBuild(spark: SparkSession, dir: String): DataFrame =
    bm25At(spark, dir, forceBuild = true)
  def nsTextBm25Indexed(spark: SparkSession, dir: String): DataFrame =
    bm25At(spark, dir, forceBuild = false)

  private def ivfAt(spark: SparkSession, dir: String, forceBuild: Boolean): DataFrame = {
    val root = rootFor("ivf", dir)
    ensureBuilt(spark, root, forceBuild)(buildIvfIndex(Tables.embeddings(spark, dir), root))
    queryIvfIndex(spark, root)
  }
  def nsSimIvfIndexBuild(spark: SparkSession, dir: String): DataFrame =
    ivfAt(spark, dir, forceBuild = true)
  def nsSimIvfIndexed(spark: SparkSession, dir: String): DataFrame =
    ivfAt(spark, dir, forceBuild = false)

  private def ivfPqAt(spark: SparkSession, dir: String, forceBuild: Boolean): DataFrame = {
    val root = rootFor("ivfpq", dir)
    val emb = Tables.embeddings(spark, dir)
    ensureBuilt(spark, root, forceBuild)(buildIvfPqIndex(emb, root))
    queryIvfPqIndex(spark, root,
      emb.where(col("vec_id") < SimilarityOps.QuantQueries)
        .select("vec_id", "embedding"))
  }
  def nsSimIvfPqIndexBuild(spark: SparkSession, dir: String): DataFrame =
    ivfPqAt(spark, dir, forceBuild = true)
  def nsSimIvfPqIndexed(spark: SparkSession, dir: String): DataFrame =
    ivfPqAt(spark, dir, forceBuild = false)

  /** Build-then-serve for the navigable beam graph — row-identical to
    * [[SimilarityOps.nsSimGraphBeam]] (shared oracle). The build is
    * PINNED to [[SimilarityOps.BeamEf]] (see [[buildGraphIndex]] — the
    * shared oracle replays the constant-width walk); the rehearsal's
    * graph_split roots take the tuner default.
    */
  private def graphAt(spark: SparkSession, dir: String, forceBuild: Boolean): DataFrame = {
    val root = rootFor("graph", dir)
    ensureBuilt(spark, root, forceBuild)(
      buildGraphIndex(spark, dir, root, pinnedEf = Some(SimilarityOps.BeamEf)))
    queryGraphIndex(spark, root, dir)
  }
  def nsSimGraphIndexBuild(spark: SparkSession, dir: String): DataFrame =
    graphAt(spark, dir, forceBuild = true)
  def nsSimGraphIndexed(spark: SparkSession, dir: String): DataFrame =
    graphAt(spark, dir, forceBuild = false)

  /** Build the index from the 80% corpus, then answer the 20% batch's
    * near-dup probes from the stored files — semantics shared with
    * [[DedupOps.nsDedupIncremental]] (same oracle).
    */
  private def dedupAt(spark: SparkSession, dir: String, forceBuild: Boolean): DataFrame = {
    val root = rootFor("dedup", dir)
    val docs = Tables.documents(spark, dir)
    val isBatch = col("doc_id") % 10 < 2
    ensureBuilt(spark, root, forceBuild)(buildDedupIndex(docs.where(!isBatch), root))
    queryDedupIndex(spark, root, docs.where(isBatch))
  }
  def nsDedupMinhashIndexBuild(spark: SparkSession, dir: String): DataFrame =
    dedupAt(spark, dir, forceBuild = true)
  def nsDedupMinhashIndexed(spark: SparkSession, dir: String): DataFrame =
    dedupAt(spark, dir, forceBuild = false)

  /** Build-then-serve for the trained quality classifier — row-identical
    * to [[TextOps.nsTextClassifyTrained]] (shared oracle).
    */
  private def clsAt(spark: SparkSession, dir: String, forceBuild: Boolean): DataFrame = {
    val root = rootFor("cls", dir)
    ensureBuilt(spark, root, forceBuild)(
      buildClassifierIndex(Tables.documents(spark, dir), root))
    queryClassifierIndex(spark, root, Tables.documents(spark, dir))
  }
  def nsTextClassifyIndexBuild(spark: SparkSession, dir: String): DataFrame =
    clsAt(spark, dir, forceBuild = true)
  def nsTextClassifyIndexed(spark: SparkSession, dir: String): DataFrame =
    clsAt(spark, dir, forceBuild = false)

  /** The commit-gated serves: answered from the stored artifact, built
    * only by the first evaluation in a process.
    */
  val storedIndexServes: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ns_text_classify_indexed" -> (nsTextClassifyIndexed _),
    "ns_text_bm25_indexed" -> (nsTextBm25Indexed _),
    "ns_sim_ivf_indexed" -> (nsSimIvfIndexed _),
    "ns_sim_ivfpq_indexed" -> (nsSimIvfPqIndexed _),
    "ns_sim_graph_indexed" -> (nsSimGraphIndexed _),
    "ns_dedup_minhash_indexed" -> (nsDedupMinhashIndexed _))

  val queries: Map[String, (SparkSession, String) => DataFrame] = storedIndexServes ++ Map(
    "ns_text_classify_index_build" -> (nsTextClassifyIndexBuild _),
    "ns_text_bm25_index_build" -> (nsTextBm25IndexBuild _),
    "ns_sim_ivf_index_build" -> (nsSimIvfIndexBuild _),
    "ns_sim_ivfpq_index_build" -> (nsSimIvfPqIndexBuild _),
    "ns_sim_graph_index_build" -> (nsSimGraphIndexBuild _),
    "ns_dedup_minhash_index_build" -> (nsDedupMinhashIndexBuild _))

  /** The stored-index queries answer the SAME question as their in-session
    * twins, so they (and their build twins) share those oracles verbatim.
    */
  val oracles: Map[String, String] = Map(
    "ns_text_classify_indexed" -> TextOps.oracles("ns_text_classify_trained"),
    "ns_text_bm25_indexed" -> TextOps.oracles("ns_text_bm25"),
    "ns_sim_ivf_indexed" -> SimilarityOps.oracles("ns_sim_ivf_topk"),
    "ns_sim_ivfpq_indexed" -> SimilarityOps.oracles("ns_sim_ivfpq_topk"),
    "ns_sim_graph_indexed" -> SimilarityOps.oracles("ns_sim_graph_beam"),
    "ns_dedup_minhash_indexed" -> DedupOps.oracles("ns_dedup_incremental"),
    "ns_text_classify_index_build" -> TextOps.oracles("ns_text_classify_trained"),
    "ns_text_bm25_index_build" -> TextOps.oracles("ns_text_bm25"),
    "ns_sim_ivf_index_build" -> SimilarityOps.oracles("ns_sim_ivf_topk"),
    "ns_sim_ivfpq_index_build" -> SimilarityOps.oracles("ns_sim_ivfpq_topk"),
    "ns_sim_graph_index_build" -> SimilarityOps.oracles("ns_sim_graph_beam"),
    "ns_dedup_minhash_index_build" -> DedupOps.oracles("ns_dedup_incremental"))
}
