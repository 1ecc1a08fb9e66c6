package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal for the dedup family: generates deterministic
  * `documents` fixtures from the SAME generator at four scales — 5k rows
  * (the sf0.1 row count), 25k, 50k (sf1), and 100k — so the corpora are
  * self-similar and the only variable is row count. Runs ns_dedup_minhash
  * and ns_dedup_components on each in one session and reports wall time
  * plus total shuffle read/write bytes per run (one JSON line each): real
  * data points behind the 100 TB extrapolation — the banded candidate
  * generation should grow near-linearly in rows within a plan regime
  * (expect one step where join sides cross the broadcast threshold),
  * never quadratically (all-pairs).
  *
  * The fixtures land under /tmp (NOT /root/testdata, which is read-only
  * driver property) and are reused across runs.
  *
  * Usage: `sbt "runMain graft.ScaleRehearsal"` → one JSON line per
  * (query, scale) on stdout.
  */
object ScaleRehearsal {

  /** Deterministic word-salad corpus matching the driver fixtures' shape:
    * 30..89 words from a small vocabulary, hash-picked per (doc, pos); every
    * doc_id % 10 == 9 copies doc_id-1's text with one word appended (a
    * planted near-duplicate for minhash/banding to find). Pure column
    * expressions — generation itself is distributed and scale-free.
    */
  private def generate(spark: SparkSession, dir: String, nDocs: Long): Unit = {
    val vocab = Seq("spark", "query", "table", "column", "filter", "join",
      "group", "order", "window", "batch", "stream", "stage", "task",
      "shuffle", "scan", "sort", "hash", "agg", "value", "key", "line",
      "part", "customer", "supplier", "nation", "region", "vector",
      "fast", "slow", "small", "large", "dedup")
    val vlit = array(vocab.map(lit): _*)
    val docs = spark.range(nDocs).select(col("id").as("doc_id"))
      // near-dup targets copy the PREVIOUS doc's words
      .withColumn("src_id", when(col("doc_id") % 10 === 9, col("doc_id") - 1)
        .otherwise(col("doc_id")))
      .withColumn("_v", vlit)
      .withColumn("n_words", (pmod(hash(col("src_id") * 7), lit(60)) + lit(30)).cast("int"))
      // Each token is vocab word + a hashed numeric suffix (0..99): ~3200
      // distinct tokens. A bare 32-word vocabulary makes the shingle space
      // so small that band buckets collide SPURIOUSLY more and more as N
      // grows (quadratic candidate blow-up a real corpus doesn't have —
      // real text's token space dwarfs the corpus).
      .withColumn("words", expr(
        s"transform(sequence(1, n_words), p -> concat(" +
          s"element_at(_v, CAST(pmod(hash(src_id * 131 + p), ${vocab.size}) AS INT) + 1), " +
          s"'_', CAST(pmod(hash(src_id * 37 + p * 11), 100) AS STRING)))"))
      .withColumn("text",
        when(col("doc_id") % 10 === 9,
          concat(array_join(col("words"), " "), lit(" dedup")))
          .otherwise(array_join(col("words"), " ")))
      .withColumn("lang", element_at(array(lit("en"), lit("de"), lit("fr")),
        (pmod(hash(col("doc_id") * 3), lit(3)) + 1).cast("int")))
      .withColumn("source", element_at(array(lit("web"), lit("wiki"), lit("code")),
        (pmod(hash(col("doc_id") * 5), lit(3)) + 1).cast("int")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(8).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** REALISTIC-VOCABULARY variant of [[generate]]: identical corpus
    * shape (30..89 words, the same %10==9 near-dup planting, same
    * lang/source columns) but the token space SCALES WITH THE CORPUS —
    * Zipf(s=1) over max(65536, 2·nDocs) distinct tokens via the
    * inverse-CDF `rank = floor(V^u)` (P(rank ≤ r) = ln r / ln V, pmf ∝
    * 1/r), u hash-uniform per (doc, pos). This is the fixture that
    * separates a BAND-SCHEME property from a FIXTURE artifact: the
    * ~3.2k-token generator above makes band buckets collide spuriously
    * more and more as N grows (candidate count ∝ corpus at fixed vocab),
    * while real text's token space dwarfs the corpus — under this
    * generator spurious band collisions stay ~corpus-independent, so a
    * candidate shuffle that still grew with N would indict the bands,
    * not the fixture.
    */
  private def generateZipf(spark: SparkSession, dir: String, nDocs: Long): Unit = {
    val v = math.max(65536L, nDocs * 2)
    val lnV = math.log(v.toDouble)
    val docs = spark.range(nDocs).select(col("id").as("doc_id"))
      .withColumn("src_id", when(col("doc_id") % 10 === 9, col("doc_id") - 1)
        .otherwise(col("doc_id")))
      .withColumn("n_words", (pmod(hash(col("src_id") * 7), lit(60)) + lit(30)).cast("int"))
      .withColumn("words", expr(
        s"transform(sequence(1, n_words), p -> concat('w', CAST(" +
          s"greatest(1L, least(${v}L, CAST(exp((pmod(hash(src_id * 131 + p), 1000000) / 1000000.0) * $lnV) AS BIGINT))) AS STRING)))"))
      .withColumn("text",
        when(col("doc_id") % 10 === 9,
          concat(array_join(col("words"), " "), lit(" dedup")))
          .otherwise(array_join(col("words"), " ")))
      .withColumn("lang", element_at(array(lit("en"), lit("de"), lit("fr")),
        (pmod(hash(col("doc_id") * 3), lit(3)) + 1).cast("int")))
      .withColumn("source", element_at(array(lit("web"), lit("wiki"), lit("code")),
        (pmod(hash(col("doc_id") * 5), lit(3)) + 1).cast("int")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(8).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Deterministic 64-d embeddings matching the driver fixture's schema
    * (vec_id, embedding float[], label): hash-derived uniform components in
    * [-0.5, 0.5); every vec_id % 10 == 9 copies vec_id-1's vector with one
    * component nudged (a planted near-duplicate). Distributed generation,
    * same shape at every scale.
    */
  private def generateEmbeddings(spark: SparkSession, dir: String, nVecs: Long): Unit = {
    val vecs = spark.range(nVecs).select(col("id").as("vec_id"))
      .withColumn("src_id", when(col("vec_id") % 10 === 9, col("vec_id") - 1)
        .otherwise(col("vec_id")))
      .withColumn("embedding", expr(
        "transform(sequence(0, 63), i -> CAST(pmod(hash(src_id * 131 + i), 1000) / 1000.0 - 0.5 AS FLOAT))"))
      .withColumn("embedding", when(col("vec_id") % 10 === 9,
        expr("transform(embedding, (x, i) -> IF(i = 0, CAST(x + 0.01 AS FLOAT), x))"))
        .otherwise(col("embedding")))
      .withColumn("label", pmod(hash(col("src_id") * 17), lit(10)).cast("int"))
      .select("vec_id", "embedding", "label")
    vecs.coalesce(8).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** CLUSTERED embeddings — the representative regime for the graph-ANN
    * serve contract: real document embeddings carry intrinsic topic
    * structure, which is what makes bounded-cost graph walks (and IVF)
    * work at all. max(16, n/256) deterministic centers (center count
    * scales with N at a fixed ~256-vector cluster size, so every scale
    * point has entry-layer coverage per cluster); each vector is its
    * hash-assigned center plus uniform noise at half the center scale —
    * within-cluster cos ≈ 0.8, cross-cluster ≈ 0, so true top-3 is
    * in-cluster and ranked by noise geometry, not degenerate ties. The
    * uniform generator above remains the adversarial floor.
    */
  private def generateClusteredEmbeddings(
      spark: SparkSession, dir: String, nVecs: Long): Unit = {
    val centers = math.max(16L, nVecs / 256L)
    val vecs = spark.range(nVecs).select(col("id").as("vec_id"))
      .withColumn("ctr", pmod(hash(col("vec_id") * 7), lit(centers)))
      .withColumn("embedding", expr(
        "transform(sequence(0, 63), i -> CAST(" +
          "(pmod(hash(ctr * 977 + i), 1000) / 1000.0 - 0.5) + " +
          "(pmod(hash(vec_id * 131 + i), 1000) / 1000.0 - 0.5) * 0.5 AS FLOAT))"))
      .withColumn("label", pmod(col("ctr"), lit(10)).cast("int"))
      .select("vec_id", "embedding", "label")
    vecs.coalesce(8).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Deterministic events fixtures for the sessionization family: users
    * scale WITH row count at a fixed 67 events/user (the per-user series
    * — the unit sessionization works on — is self-similar; only the user
    * population grows). ts is raw TIMESTAMP(NANOS)-style Long like the
    * driver fixture; per-user steps are 6 h ± a hashed 0-12 h jitter, so
    * a healthy fraction of gaps crosses the 8 h session threshold.
    */
  private def generateEvents(spark: SparkSession, dir: String, nEvents: Long): Unit = {
    val perUser = 67L
    val baseNs = 1704067200000000000L // 2024-01-01
    val hourNs = 3600L * 1000000000L
    val events = spark.range(nEvents).select(col("id").as("event_id"))
      .withColumn("user_id", expr(s"event_id div $perUser"))
      .withColumn("seq", pmod(col("event_id"), lit(perUser)))
      .withColumn("ts",
        // xxhash64, NOT hash(): murmur3 is 32-bit, so pmod by a 12h nano
        // range would quantize jitter to {≈0, ≈12h} (|h| < 2^31 ns ≈ 2 s)
        // instead of the uniform 0-12h the gap distribution needs.
        lit(baseNs) + col("seq") * lit(6L * hourNs)
          + pmod(xxhash64(col("user_id") * 131 + col("seq")), lit(12L * hourNs)))
      .withColumn("event_type", lit("view"))
      .withColumn("value",
        (pmod(hash(col("event_id") * 17), lit(10000)) / lit(100.0)))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    events.coalesce(8).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  def main(args: Array[String]): Unit = {
    val spark = Driver.session()

    // 5k matches the sf0.1 row count; 25k→50k isolates a clean 2x-rows
    // comparison where AQE picks the SAME plan shape on both sides (at 5k
    // the joins still broadcast, so its shuffle bytes under-count).
    val scales = Seq(("synth5k", 5000L), ("synth25k", 25000L),
      ("synth50k", 50000L), ("synth100k", 100000L)).map {
      case (name, n) =>
        val dir = sys.props("java.io.tmpdir") + s"/graft_$name"
        // _SUCCESS gate, not just isDirectory: a killed prior run leaves a
        // partial parquet dir that would silently become the corpus.
        if (!new java.io.File(s"$dir/documents.parquet/_SUCCESS").isFile) {
          generate(spark, dir, n)
        }
        (name, dir)
    }

    // Shuffle-volume listener: sums stage-level shuffle read/write bytes.
    val readB = new LongAdder; val writeB = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        readB.add(sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        writeB.add(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })

    BenchWarm.generic(spark, "/root/testdata/sf0.1")
    BenchWarm.families(spark, "/root/testdata/sf0.1")

    // Embedding fixtures for the similarity family: 2k matches the sf0.1
    // row count, then 4x steps (same generator throughout).
    val simScales = Seq(("vec2k", 2000L), ("vec8k", 8000L),
      ("vec32k", 32000L)).map { case (name, n) =>
      val dir = sys.props("java.io.tmpdir") + s"/graft_$name"
      if (!new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").isFile) {
        generateEmbeddings(spark, dir, n)
      }
      (name, dir)
    }

    // Optional trailing args: measure only the named queries (dev loop
    // for a new family row); no args = the full recorded sweep.
    val only = args.toSet
    def measure(q: String, sfName: String, dir: String): Unit = {
      if (only.nonEmpty && !only(q)) return
      readB.reset(); writeB.reset()
      val t0 = System.nanoTime()
      // Execute the FULL physical plan (windows, sorts, payload columns),
      // not .count(): for a count-only consumer Catalyst legally prunes
      // payload expressions — a projection+window+sort plan collapses to
      // a parquet-footer count (measured: 472 B of shuffle for the 100k-row
      // packing query) and the "measurement" would be of nothing.
      val rows = Driver.evaluate(SparkEntry.queries(q)(spark, dir))
      val dt = (System.nanoTime() - t0) / 1e9
      Driver.clearState(spark)
      // Double.toString, not f"%.2f": the f interpolator is locale-
      // dependent (comma decimals on e.g. de_DE break the JSON).
      val sec = math.round(dt * 100) / 100.0
      val wMb = math.round(writeB.sum / 1e5) / 10.0
      val rMb = math.round(readB.sum / 1e5) / 10.0
      println(s"""{"query":"$q","sf":"$sfName","rows":$rows,"sec":$sec,"shuffle_write_mb":$wMb,"shuffle_read_mb":$rMb}""")
    }

    // Spans: the (doc, window-hash) exchange is linear in corpus CHARS;
    // the df-capped bucket explode bounds pair fan-out per span.
    for (q <- Seq("ns_dedup_minhash", "ns_dedup_components", "ns_dedup_spans");
         (sfName, dir) <- scales) measure(q, sfName, dir)
    // ivf/lsh top-k are OUTPUT-BOUNDED (100 queries x k rows regardless of
    // corpus size) — the right scale subjects. Near-dup PAIR ENUMERATION is
    // Ω(|output|) by definition and the uniform fixture's similarity graph
    // is dense at the 0.35 threshold (true pairs grow quadratically:
    // 2.4k/36k/560k at 2k/8k/32k vectors, measured once) — at 100 TB you
    // raise the threshold or go straight to components, you don't
    // enumerate a dense graph.
    // PQ ADC streams every candidate's 4-byte codes (linear in N at 1/64
    // the bytes); IVF+PQ prunes that stream to the probed clusters;
    // trained PQ adds 2 Lloyd passes (scan + 1024-row shuffle each).
    // semdedup output IS pair-bounded (dense fixture graph, see above) —
    // the subject here is that in-cluster pruning holds pair mass to
    // ~1/k of the all-pairs baseline while staying an equi-join.
    // diversity_sample aggregates the N·k knn edge list per node — linear
    // in N on top of the graph build; ivf_indexed adds the artifact write
    // (publish) + read-back to the ivf search it serves.
    for (q <- Seq("ns_sim_ivf_topk", "ns_sim_lsh_topk",
           "ns_sim_pq_topk", "ns_sim_ivfpq_topk", "ns_sim_pq_trained",
           "ns_sim_semdedup", "ns_sim_diversity_sample", "ns_sim_ivf_indexed",
           "ns_sim_ivfpq_indexed");
         (sfName, dir) <- simScales) measure(q, sfName, dir)

    // Round-6c: bloom decontamination streams the corpus through a fixed
    // 1 MiB broadcast probe (linear; confirm-join mass ~ matches + fpp of
    // corpus); the admission audit composes the gopher scan (linear), the
    // fp semi-join (linear), the banded match (the minhash regime above)
    // and the decon scan; audio decode is one payload-generation +
    // chunk-walk pass (linear in bytes, no shuffle but the output sort).
    for (q <- Seq("ns_decontaminate_bloom", "pipe_corpus_admission",
           "ns_multimodal_audio", "ns_text_hotngrams", "ns_corpus_split",
           "ns_text_unigram_encode", "ns_dedup_source_matrix",
           "ns_multimodal_video");
         (sfName, dir) <- scales) measure(q, sfName, dir)
    // Round-7: the shared-scan corpus report is ONE corpus scan + ONE
    // shingle exchange + one fused text pass (the subject: wall tracks
    // the components regime, not five metric scans); the platform build
    // composes the index publish (one-off artifact write), survivorship
    // + decontamination FROM the stored files, the linear gates and the
    // two-pass pack; PNG decode is one generate+inflate+unfilter pass
    // (linear in pixel bytes, no shuffle but the output sort); unigram
    // train adds the hard-EM E-step (one distinct-word DP pass + a
    // vocab-bounded piece aggregation) to the seed fit.
    // Round-9: JPEG decode is one generate + Huffman-decode + IDCT pass
    // (linear in coefficient count, no shuffle but the output sort) —
    // same regime as PNG, heavier per-pixel arithmetic; ADPCM decode is
    // the same shape over the 4-bit adaptation state machine.
    for (q <- Seq("pipe_corpus_report", "pipe_platform_build",
           "ns_multimodal_png", "ns_multimodal_jpeg", "ns_multimodal_adpcm",
           "ns_text_unigram_train");
         (sfName, dir) <- scales) measure(q, sfName, dir)
    // Round-9b: classifier training is ClsIters in-row margin/error
    // passes over the cached per-doc feature maps + a 116-key map-side-
    // combined gradient agg each — wall must track N; shuffle is the
    // ONE-TIME feature build (explode + two doc-keyed aggs, linear in
    // corpus tokens, measured 4.5→107 MB over 20x rows) while the six
    // gradient exchanges stay dimension-scale (116 keys x partitions).
    // The synthetic vocabulary fails the gopher gate for every doc (the
    // platform-build note above), so labels are uniformly 0 here: the
    // mechanical cost is the subject; LEARNING is exercised by the
    // fixture-corpus spec and oracle.
    for (q <- Seq("ns_text_classify_trained");
         (sfName, dir) <- scales) measure(q, sfName, dir)

    // Multi-probe IVF: same assign/rerank plan as ivf_topk with 4x the
    // probed lists — the subject is cost ∝ probes, not corpus size.
    for (q <- Seq("ns_sim_ivf_multiprobe");
         (sfName, dir) <- simScales) measure(q, sfName, dir)

    // Round-9: the navigable-graph BUILD/SERVE SPLIT (the stored-artifact
    // posture the verdict asked to measure apart): the NN-descent build
    // grows with N, the beam-walk serve term must not (entry stride N/32
    // aside — the walk scores hops·ef·(M_max+1) candidates regardless of
    // corpus size). One isolated timing per stage per scale.
    //
    // Round-10: TWO data regimes per scale. The uniform fixtures (vec*)
    // are the ADVERSARIAL floor — iid uniform 64-dim vectors concentrate
    // distances, so recall@3 degrades with N for ANY bounded-cost walk
    // (measured: wider ef, deeper NN-descent and α-diversification all
    // plateau ~0.34 at 32k — diversification prunes nothing because
    // uniform neighbors are already near-orthogonal). The clustered
    // fixtures (vecc*) are the REPRESENTATIVE regime — real document
    // embeddings have intrinsic cluster structure — and carry the
    // recall ≥ 0.75 contract; the stored artifact records its own
    // measured recall (beam_recall_pm) either way.
    if (only.isEmpty || only("graph_split")) {
      val clusteredScales = Seq(("vecc2k", 2000L), ("vecc8k", 8000L),
        ("vecc32k", 32000L)).map { case (name, n) =>
        val dir = sys.props("java.io.tmpdir") + s"/graft_$name"
        if (!new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").isFile) {
          generateClusteredEmbeddings(spark, dir, n)
        }
        (name, dir)
      }
      for ((sfName, dir) <- simScales ++ clusteredScales) {
        val root = sys.props("java.io.tmpdir") +
          s"/graft_graphsplit_${sfName}_${ProcessHandle.current().pid()}"
        readB.reset(); writeB.reset()
        val t0 = System.nanoTime()
        graft.operators.IndexOps.buildGraphIndex(spark, dir, root)
        val buildSec = math.round((System.nanoTime() - t0) / 1e7) / 100.0
        val bw = math.round(writeB.sum / 1e5) / 10.0
        Driver.clearState(spark)
        readB.reset(); writeB.reset()
        val t1 = System.nanoTime()
        val served = Driver.evaluate(
          graft.operators.IndexOps.queryGraphIndex(spark, root, dir))
        val serveSec = math.round((System.nanoTime() - t1) / 1e7) / 100.0
        val sw = math.round(writeB.sum / 1e5) / 10.0
        Driver.clearState(spark)
        // Recall of the SERVED rows vs brute force (untimed — the claim
        // under test since round 10 is that the stored, build-tuned ef
        // holds the 0.75 floor as N grows, not just that the walk is fast).
        val truth = graft.operators.SimilarityOps.nsSimBruteforceTopk(spark, dir)
          .select("query_id", "neighbor_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val got = graft.operators.IndexOps.queryGraphIndex(spark, root, dir)
          .select("query_id", "neighbor_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val recall = math.round(truth.count(got.contains).toDouble / truth.size * 1000) / 1000.0
        val storedEf = graft.ops.ArtifactMeta.readLong(spark, root, "beam_ef")
        val storedRecall = graft.ops.ArtifactMeta.readLong(spark, root, "beam_recall_pm")
        Driver.clearState(spark)
        println(s"""{"query":"graph_index_build","sf":"$sfName","rows":0,"sec":$buildSec,"shuffle_write_mb":$bw,"stored_ef":$storedEf,"stored_recall_pm":$storedRecall}""")
        println(s"""{"query":"graph_index_serve","sf":"$sfName","rows":$served,"sec":$serveSec,"shuffle_write_mb":$sw,"recall":$recall}""")
      }
    }

    // Topic curation: map-side assign + k-row stats + ONE topic-keyed
    // rank exchange — the subject is that wall tracks N while shuffle
    // stays ~rows-kept. PageRank adds two exchanges per iteration over
    // the k-bounded edge list.
    for (q <- Seq("ns_corpus_topics", "ns_sim_pagerank");
         (sfName, dir) <- simScales)
      measure(q, sfName, dir)

    // Sessionization: 100k events matches the sf0.1 row count, then 4x
    // steps with users scaling alongside (fixed 67 events/user — the
    // per-user series is the self-similar unit). Packing reuses the
    // document corpora (per-lang streams; the window is the subject).
    val sessScales = Seq(("ev100k", 100000L), ("ev400k", 400000L),
      ("ev1600k", 1600000L)).map { case (name, n) =>
      val dir = sys.props("java.io.tmpdir") + s"/graft_$name"
      if (!new java.io.File(s"$dir/events.parquet/_SUCCESS").isFile) {
        generateEvents(spark, dir, n)
      }
      (name, dir)
    }
    // Round-9: THE DELTA MEASUREMENT. Batch held FIXED at 500 docs
    // (doc_id % 10 == 1 && doc_id < 5000 — present identically at every
    // scale) while the day-1 corpus grows ~4.5k -> ~99.5k docs: the claim
    // under test is "delta wall ∝ batch, not corpus" (flat), with the
    // day-1 build rows as the linear-growth contrast. Each point gets a
    // FRESH day-1 root (the delta MUTATES its artifacts; roots are
    // per-process and removed on exit). A second, HIGH-DUP arm
    // (doc_id % 10 == 9 && doc_id < 5000 — every batch doc a planted
    // near-dup of a corpus doc) stresses the broadcast(edges0) verified
    // edge list; the edge count is recorded per point. Select with
    // trailing arg `platform_delta`.
    lazy val deltaRoot = graft.ops.ProcessTmp.dir("graft_deltasweep")
    def measureDelta(arm: String, isBatch: Column => Column,
        sfName: String, dir: String): Unit = {
      val root = s"$deltaRoot/${arm}_$sfName"
      readB.reset(); writeB.reset()
      val tb = System.nanoTime()
      graft.pipeline.Pipelines
        .platformBuildCore(spark, dir, root, !isBatch(col("doc_id"))).count()
      val buildSec = math.round((System.nanoTime() - tb) / 1e7) / 100.0
      val bw = math.round(writeB.sum / 1e5) / 10.0
      val br = math.round(readB.sum / 1e5) / 10.0
      Driver.clearState(spark)
      println(s"""{"query":"platform_day1_build","arm":"$arm","sf":"$sfName","sec":$buildSec,"shuffle_write_mb":$bw,"shuffle_read_mb":$br}""")
      var edges = -1L
      readB.reset(); writeB.reset()
      val td = System.nanoTime()
      val rows = graft.pipeline.Pipelines
        .platformDeltaStage(spark, dir, root, isBatch, e => edges = e.count())
        .count()
      val deltaSec = math.round((System.nanoTime() - td) / 1e7) / 100.0
      val dw = math.round(writeB.sum / 1e5) / 10.0
      val dr = math.round(readB.sum / 1e5) / 10.0
      Driver.clearState(spark)
      println(s"""{"query":"platform_delta_stage","arm":"$arm","sf":"$sfName","rows":$rows,"edges":$edges,"sec":$deltaSec,"shuffle_write_mb":$dw,"shuffle_read_mb":$dr}""")
    }
    if (only.isEmpty || only("platform_delta"))
      for ((sfName, dir) <- scales) {
        measureDelta("fixed500", c => c % 10 === 1 && c < 5000, sfName, dir)
        measureDelta("highdup500", c => c % 10 === 9 && c < 5000, sfName, dir)
      }

    // Round-11: the HIGH-DUP PLATEAU measurement (r10 verdict item 4).
    // The pruned delta probe's fat-set read is bounded by
    // candidates × DocsPerBucket rows; below corpus ≈ candidates × 512
    // (≈256k docs for the 500-candidate high-dup arm) the touched buckets
    // cover most of the table, so the read grows with the corpus — past
    // it the bound binds and the wall must flatten. Two points past the
    // knee turn the prediction into a table row. Select with trailing
    // arg `platform_delta_big`.
    if (only.isEmpty || only("platform_delta_big")) {
      val bigScales = Seq(("synth256k", 256000L), ("synth512k", 512000L)).map {
        case (name, n) =>
          val dir = sys.props("java.io.tmpdir") + s"/graft_$name"
          if (!new java.io.File(s"$dir/documents.parquet/_SUCCESS").isFile) {
            generate(spark, dir, n)
          }
          (name, dir)
      }
      for ((sfName, dir) <- bigScales) {
        measureDelta("fixed500", c => c % 10 === 1 && c < 5000, sfName, dir)
        measureDelta("highdup500", c => c % 10 === 9 && c < 5000, sfName, dir)
      }
    }

    // Round-12: the REALISTIC-VOCABULARY sweep — the r11 verdict's one
    // argued (not measured) 100 TB claim. The highdup500 candidate
    // shuffle grew ~linearly with the corpus on the fixed-3.2k-token
    // fixture (13→126 MB over 50k→512k at flat wall), attributed to
    // spurious band collisions at fixed vocab. The Zipf generator scales
    // the token space with the corpus (real text's regime): if the
    // attribution is right, the candidate shuffle flattens to
    // batch-proportional here; if it doesn't, the band scheme — not the
    // fixture — owns the growth. Select with trailing arg
    // `platform_delta_zipf`.
    if (only.isEmpty || only("platform_delta_zipf")) {
      val zipfScales = Seq(
        ("zipf50k", 50000L), ("zipf256k", 256000L), ("zipf512k", 512000L))
        .map { case (name, n) =>
          val dir = sys.props("java.io.tmpdir") + s"/graft_$name"
          if (!new java.io.File(s"$dir/documents.parquet/_SUCCESS").isFile) {
            generateZipf(spark, dir, n)
          }
          (name, dir)
        }
      for ((sfName, dir) <- zipfScales) {
        measureDelta("fixed500", c => c % 10 === 1 && c < 5000, sfName, dir)
        measureDelta("highdup500", c => c % 10 === 9 && c < 5000, sfName, dir)
      }
    }

    // Round-13: THE PACK PREFIX-SUM MEASUREMENT (r12 verdict finding #1).
    // The r12 packing kernel computed the running token sum with
    // Window.partitionBy("lang") — parallelism ceiling = |langs|, and a
    // realistic corpus is SKEWED (en ≈ 44 %), so one task owned ~44 % of
    // all rows. The r13 kernel (PackingOps.langPrefix) is the two-pass
    // range-offset scan. This arm isolates EXACTLY the kernel: a cached,
    // pre-materialized (doc_id, lang, toks) frame under the skewed
    // 44 %-en / 8-minor-lang mix (tokenization excluded — it dominated
    // the corpus-level walls and hid the window), timing the old window
    // form against the ranged form at 2M, 8M and 32M rows. The claim: the
    // ranged form's wall parallelizes (flat-ish per row as N grows,
    // faster than the window form, whose en task serializes 44 % of the
    // sum). Byte-equality of the two forms is spec-pinned
    // (PackingOpsSpec); this row records the PERFORMANCE claim. Select
    // with trailing arg `pack_prefix`.
    if (only.isEmpty || only("pack_prefix")) {
      for ((sfName, n) <- Seq(("rows2m", 2000000L), ("rows8m", 8000000L),
          ("rows32m", 32000000L))) {
        val docs = spark.range(n).select(col("id").as("doc_id"))
          .withColumn("lang",
            when(pmod(hash(col("doc_id") * 13), lit(100)) < 44, lit("en"))
              .otherwise(concat(lit("l"),
                pmod(hash(col("doc_id") * 29), lit(8)).cast("string"))))
          .withColumn("toks",
            (pmod(hash(col("doc_id") * 7), lit(100)) + lit(20)).cast("long"))
          .select("doc_id", "lang", "toks")
          .cache()
        docs.count() // materialize outside both timed windows
        // By-name build: langPrefix runs its width action at CONSTRUCTION
        // time, which must land inside the timed window.
        def fullEval(build: => org.apache.spark.sql.DataFrame, tag: String): Double = {
          readB.reset(); writeB.reset()
          val t0 = System.nanoTime()
          Driver.evaluate(build)
          val sec = math.round((System.nanoTime() - t0) / 1e7) / 100.0
          val w = math.round(writeB.sum / 1e5) / 10.0
          println(s"""{"query":"$tag","sf":"$sfName","rows":$n,"sec":$sec,"shuffle_write_mb":$w}""")
          sec
        }
        val byLang = org.apache.spark.sql.expressions.Window
          .partitionBy("lang").orderBy("doc_id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        fullEval(docs.withColumn("cum",
          coalesce(sum("toks").over(byLang), lit(0L))), "pack_prefix_window")
        // Force the ranged branch: this arm records the KERNEL
        // comparison that sets the dispatch crossover, so the dispatch
        // itself (round-15) must not reroute the 2M row back to the
        // window form mid-measurement.
        spark.conf.set("spark.graft.prefix.minRangedRows", "0")
        fullEval(graft.operators.PackingOps.langPrefix(docs, "cum"),
          "pack_prefix_ranged")
        spark.conf.unset("spark.graft.prefix.minRangedRows")
        docs.unpersist()
      }
    }

    // Round-13: THE CRAWL DELTA MEASUREMENT — pipe_crawl_delta's day-2
    // stage with the batch held FIXED at 500 docs while the day-1 crawl
    // grows 25k → 100k: the claim is the same as the platform delta's
    // (wall ∝ batch, not corpus) for the crawl-shaped read path — the
    // bucket-pruned seen-URL probe, the pruned banded/fat-set probes,
    // the frozen-model scoring, and the touched-shard read-back. The
    // synthetic vocabulary fails gopher for every doc (the
    // platform-build note above) on the fixed-vocab corpora, so the arm
    // runs on the ZIPF corpora, whose plain alnum tokens pass; admitted
    // sets are still small — the mechanical per-gate cost is the
    // subject; admission CONTENT is the oracle's job on the driver
    // fixtures. Select with trailing arg `crawl_delta`.
    if (only.isEmpty || only("crawl_delta")) {
      val crawlScales = Seq(("zipf25k", 25000L), ("zipf50k", 50000L),
        ("zipf100k", 100000L)).map { case (name, n) =>
        val dir = sys.props("java.io.tmpdir") + s"/graft_$name"
        if (!new java.io.File(s"$dir/documents.parquet/_SUCCESS").isFile) {
          generateZipf(spark, dir, n)
        }
        (name, dir)
      }
      val isBatch = (c: Column) => c % 10 === 1 && c < 5000
      for ((sfName, dir) <- crawlScales) {
        val root = s"$deltaRoot/crawl_$sfName"
        readB.reset(); writeB.reset()
        val tb = System.nanoTime()
        graft.operators.PackingOps.buildCrawlBase(spark, dir, root,
          crawlFilter = col("doc_id") % 50 =!= 0 && !isBatch(col("doc_id")))
        val buildSec = math.round((System.nanoTime() - tb) / 1e7) / 100.0
        val bw = math.round(writeB.sum / 1e5) / 10.0
        Driver.clearState(spark)
        println(s"""{"query":"crawl_day1_build","sf":"$sfName","sec":$buildSec,"shuffle_write_mb":$bw}""")
        readB.reset(); writeB.reset()
        val td = System.nanoTime()
        val rows = graft.operators.PackingOps.crawlDeltaStage(spark, dir, root,
          batchFilter = col("doc_id") % 50 =!= 0 && isBatch(col("doc_id")))
          .count()
        val deltaSec = math.round((System.nanoTime() - td) / 1e7) / 100.0
        val dw = math.round(writeB.sum / 1e5) / 10.0
        val dr = math.round(readB.sum / 1e5) / 10.0
        Driver.clearState(spark)
        println(s"""{"query":"crawl_delta_stage","sf":"$sfName","rows":$rows,"sec":$deltaSec,"shuffle_write_mb":$dw,"shuffle_read_mb":$dr}""")
      }
    }

    // Round-10: the MULTI-DAY chain — what a nightly pipeline actually
    // accumulates. Day-1 build on the 100k corpus minus SEVEN disjoint
    // 500-doc batches, then the seven deltas in sequence (each reads the
    // previous day's artifacts), then one compactLog fold of the manifest
    // day log. Claims under test: per-day wall ~flat (each delta is
    // batch-proportional against a day-log that only ever grows by
    // day-partitions), and compaction bounded by the resolved view size.
    // Select with trailing arg `platform_multiday`.
    if (only.isEmpty || only("platform_multiday")) {
      val (sfName, dir) = scales.last // synth100k
      val root = s"$deltaRoot/multiday_$sfName"
      val dayOf = (c: Column) =>
        when(c % 10 === 1 && c < 35000, (c / lit(5000)).cast("int") + 1)
          .otherwise(0)
      readB.reset(); writeB.reset()
      val tb = System.nanoTime()
      graft.pipeline.Pipelines
        .platformBuildCore(spark, dir, root, dayOf(col("doc_id")) === 0).count()
      val buildSec = math.round((System.nanoTime() - tb) / 1e7) / 100.0
      Driver.clearState(spark)
      println(s"""{"query":"platform_multiday","day":0,"sf":"$sfName","sec":$buildSec,"shuffle_write_mb":${math.round(writeB.sum / 1e5) / 10.0},"shuffle_read_mb":${math.round(readB.sum / 1e5) / 10.0}}""")
      for (day <- 1 to 7) {
        readB.reset(); writeB.reset()
        val td = System.nanoTime()
        val rows = graft.pipeline.Pipelines
          .platformDeltaStage(spark, dir, root, c => dayOf(c) === day).count()
        val sec = math.round((System.nanoTime() - td) / 1e7) / 100.0
        Driver.clearState(spark)
        println(s"""{"query":"platform_multiday","day":$day,"sf":"$sfName","rows":$rows,"sec":$sec,"shuffle_write_mb":${math.round(writeB.sum / 1e5) / 10.0},"shuffle_read_mb":${math.round(readB.sum / 1e5) / 10.0}}""")
      }
      // Compact the append logs back to seq/day 0 — the manifest is
      // empty on this corpus (the gopher-gate gotcha), so the banded/sets
      // logs are the content-bearing compaction measurement.
      readB.reset(); writeB.reset()
      val tc = System.nanoTime()
      val cFiles = graft.ops.ArtifactMeta.filesFor(
        graft.ops.ArtifactMeta.readBuckets(spark, root, "banded"))
      graft.ops.MergeSink.compactLog(spark, s"$root/manifest",
        Seq("doc_id"), "day", Seq("lang"))
      graft.ops.MergeSink.compactKeyLog(spark, s"$root/banded",
        Seq("doc_id"), cFiles, Seq("bucket"))
      graft.ops.MergeSink.compactKeyLog(spark, s"$root/sets",
        Seq("doc_id"), cFiles, Seq("bucket", "doc_id"))
      graft.ops.MergeSink.compactKeyLog(spark, s"$root/labels",
        Seq("doc_id"), cFiles, Seq("bucket", "doc_id"))
      val cSec = math.round((System.nanoTime() - tc) / 1e7) / 100.0
      val seqDirs = new java.io.File(s"$root/banded").listFiles
        .count(_.getName.startsWith("seq="))
      Driver.clearState(spark)
      println(s"""{"query":"platform_multiday_compact","sf":"$sfName","sec":$cSec,"banded_seq_dirs_after":$seqDirs,"shuffle_write_mb":${math.round(writeB.sum / 1e5) / 10.0},"shuffle_read_mb":${math.round(readB.sum / 1e5) / 10.0}}""")
    }

    // Round-9: the 1M-doc ceiling for the two heaviest corpus jobs (r7
    // item 5 — previous ceiling 100k). Same generator, one more 10x/2.5x
    // column; wall + shuffle should keep tracking the linear regime.
    val bigQs = Seq("pipe_platform_build", "pipe_corpus_report")
    if (only.isEmpty || bigQs.exists(only)) {
      val dir = sys.props("java.io.tmpdir") + "/graft_synth1m"
      if (!new java.io.File(s"$dir/documents.parquet/_SUCCESS").isFile) {
        generate(spark, dir, 1000000L)
      }
      for (q <- bigQs) measure(q, "synth1m", dir)
    }

    for ((sfName, dir) <- sessScales) measure("ns_session_agg", sfName, dir)
    // Filters over the document corpora: packing (per-lang window),
    // decontamination (probe-set broadcast semi-join — the probe is the
    // fixed %50 slice, so it grows with the corpus here; in production it
    // is a fixed eval set and the flat-broadcast property is even
    // stronger), repetition (explode + doc-clustered agg, scan-bound),
    // rarity (word-count train + broadcast join-back; the count table
    // grows with DISTINCT words, sublinear in rows on self-similar text).
    // bm25: query count scales with the corpus (every 50th doc), so work
    // is Q x 12 posting lists — candidate mass grows with BOTH corpus and
    // query count; the postings cache build is the linear floor.
    for (q <- Seq("ns_pack_chunks", "ns_pack_chunks_global",
           "ns_decontaminate", "ns_text_repetition", "ns_text_rarity",
           "ns_text_chunks", "ns_text_salient", "ns_text_bm25",
           "ns_text_classify", "ns_text_bpe_train", "ns_text_bpe_encode",
           "ns_text_bigram_lm", "ns_pack_bpe", "ns_text_bm25_indexed",
           "ns_corpus_dsir", "pipe_select_pack", "ns_corpus_curriculum",
           // Round-6b: source cap (per-source WindowGroupLimit), gopher
           // (pure projection — the scan-bound floor), fuzzy decon (the
           // %50 eval slice grows with the corpus here, so this measures
           // index-size sensitivity too; production eval sets are fixed).
           "ns_corpus_source_cap", "ns_text_gopher", "ns_decontaminate_fuzzy");
         (sfName, dir) <- scales) measure(q, sfName, dir)
    spark.stop()
  }
}
