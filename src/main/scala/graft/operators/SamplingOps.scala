package graft.operators

import graft.model.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling + distribution profiling over
  * `documents` (builder brief + SURVEY.md §7.4): the data-mixing step of
  * a pretraining pipeline — draw a per-language quota reproducibly, and
  * profile the length distribution that feeds curriculum/quality cuts.
  *
  * Determinism comes from an affine hash of `doc_id`, NOT rand(): under
  * task retries / speculative execution a rand()-based sample is not
  * stable, and an oracle could never replay it. Same principle as the
  * content-hash salts in [[graft.ops.Skew]].
  */
object SamplingOps {

  /** Affine sample key: (doc_id * knuth + 97) mod p. Multiplier is
    * Knuth's 2654435761 with a prime modulus; both engines compute it in
    * 64-bit exactly for any doc_id below ~3.5e9 (the fixtures' ids are
    * dense from 0, and at larger scale the key column would be hashed
    * first — documented, not hidden).
    */
  private[graft] val SampleKeyA = 2654435761L
  private[graft] val SampleKeyB = 97L
  private[graft] val SampleKeyP = 1000000007L
  private[graft] val sampleKeyCol: Column =
    pmod(col("doc_id") * lit(SampleKeyA) + lit(SampleKeyB), lit(SampleKeyP)).as("sample_key")

  /** Range count for the distributed per-lang rank: the sample-key axis
    * ([0, [[SampleKeyP]])) is cut into this many fixed-width ranges, so
    * the rank window partitions by (lang, range) — parallelism scales
    * with ranges x langs — and the offset frame stays ≤ |langs| x 1024
    * rows. The affine key is near-uniform on its domain by construction,
    * so equal-width ranges are balanced without a sampling pass.
    */
  private[graft] val SampleRanges = 1024L
  private val SampleRangeWidth = SampleKeyP / SampleRanges + 1L

  /** Exact stratified 20% sample: per-language quota = ceil(0.2 · |lang|),
    * taken in sample-key order — via PER-RANGE PRE-RANK + OFFSET MERGE
    * (the 100 TB path this query's r12 comment only documented):
    *
    *  1. per-(lang, sample-key-range) row counts — a map-side-combining
    *     aggregate over a 2-column scan to a ≤ |langs| x [[SampleRanges]]
    *     frame; per-lang running rank offsets via a window over THAT tiny
    *     frame (ranges are monotonic in the rank order key, and key ties
    *     share a range, so offsets compose exactly); per-lang totals for
    *     the quota from the same aggregate;
    *  2. row_number within (lang, range) ordered by (sample_key, doc_id)
    *     over doc rows + the broadcast offset = the global per-lang rank,
    *     byte-identical to the single per-lang window form
    *     (SamplingOpsSpec pins the equality).
    *
    * No stage's parallelism is bounded by the language count (en ≈ 44 %
    * of a real corpus). The hash-threshold variant below remains the
    * zero-shuffle alternative when binomial per-stratum counts suffice.
    */
  /** Global dense rank per `partCol` in (sample_key, `idCol`) order, via
    * the range-offset scan over the sample-key axis: per-(part, range)
    * counts → per-part running offsets on the tiny aggregate → within-
    * (part, range) row_number + broadcast offset. Byte-identical to
    * `row_number().over(Window.partitionBy(partCol).orderBy(sample_key,
    * idCol))` with parallelism |part values| × [[SampleRanges]] instead
    * of |part values| — shared by the exact stratified sampler (per
    * lang), BOTH corpus mixes (per source: a real mix has a handful
    * of skewed sources, the same ceiling as languages), the corpus-build
    * composition (per predicted lang), and the topic-balanced selection
    * (per topic, `idCol` = vec_id). Input must carry `sample_key`;
    * output column order is re-projected by callers (the range join
    * moves its keys to the front). The affine key is near-uniform on its
    * domain by construction, so equal-width ranges never collapse — no
    * occupancy guard needed (unlike the doc_id-cut
    * [[PackingOps.rangedPrefix]]).
    *
    * `knownRows`: row-count-adaptive dispatch
    * ([[PackingOps.RangedDispatchMinRows]]) — callers that already hold
    * the input's row count (the cached compositions: pipe_corpus_build,
    * ns_corpus_topics, where the count action doubles as the cache
    * warmer) pass it, and below the crossover the kernel is the plain
    * per-key rank window (byte-identical by spec). `None` keeps the
    * ranged form unconditionally: the uncached callers (sample_exact,
    * the mixes) would pay a full extra scan per evaluation for the
    * count at production scale, and their fixture-scale tax was
    * measured at parity in r14.
    */
  private[graft] def rangedSampleRank(
      docs: DataFrame, partCol: String, outCol: String,
      idCol: String = "doc_id", knownRows: Option[Long] = None): DataFrame = {
    if (knownRows.exists(_ < PackingOps.minRangedRows(docs)))
      return docs.withColumn(outCol, row_number().over(
        Window.partitionBy(partCol).orderBy(col("sample_key"), col(idCol)))
        .cast("long"))
    val withRg = docs.withColumn("_rg", expr(s"sample_key div $SampleRangeWidth"))
    val rgOrder = Window.partitionBy(partCol).orderBy("_rg")
      .rowsBetween(Window.unboundedPreceding, -1)
    // partCol-only window, but over the RANGE AGGREGATE (≤ |part| x
    // 1024 rows) — the tiny-frame pattern, never a doc-row window.
    val rgOffsets = withRg.groupBy(partCol, "_rg").agg(count(lit(1)).as("_rg_n"))
      .withColumn("_rg_offset", coalesce(sum("_rg_n").over(rgOrder), lit(0L)))
      .select(partCol, "_rg", "_rg_offset")
    val inRg = Window.partitionBy(partCol, "_rg").orderBy("sample_key", idCol)
    withRg
      .withColumn("_rank_in_rg", row_number().over(inRg).cast("long"))
      .join(broadcast(rgOffsets), Seq(partCol, "_rg"))
      .withColumn(outCol, col("_rg_offset") + col("_rank_in_rg"))
      .drop("_rg", "_rg_offset", "_rank_in_rg")
  }

  def nsCorpusSampleExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), sampleKeyCol)
    val quotas = docs.groupBy("lang").agg(ceil(count(lit(1)) * 0.2).as("quota"))
    rangedSampleRank(docs, "lang", "sample_rank")
      .join(broadcast(quotas), Seq("lang"))
      .where(col("sample_rank") <= col("quota"))
      .select("doc_id", "lang", "source", "n_chars", "sample_key", "sample_rank")
      .orderBy("lang", "sample_rank")
  }

  /** Stateless hash-threshold sample (the 100 TB path): keep documents
    * whose sample key falls in a fixed residue class — ~20% per stratum
    * with zero coordination, zero shuffle (scan → filter → project; the
    * only exchange in the plan is the presentation sort). The trade:
    * per-stratum counts are binomial around the quota instead of exact.
    */
  def nsCorpusSampleHash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), sampleKeyCol)
      .where(col("sample_key") % 5 === 0)
      .orderBy("doc_id")

  /** Per-language length quantiles (exact linear-interpolation
    * percentiles), plus an in-query accuracy gate on the sketch path:
    * `approx_percentile` (single streaming pass, bounded memory — what
    * 100 TB actually runs) is gated by RANK, not value: at accuracy
    * 10000 its rank error is ≤ ⌈n/10000⌉, so the sketch value must lie
    * between the order statistics bracketing the interpolated position,
    * widened by that slack. (A value-relative gate is data-dependent —
    * adjacent order stats can sit arbitrarily far apart — and flaked at
    * sf0.001.) The oracle pins the gate TRUE — the op31b HLL pattern.
    * Exact `percentile`/collect_list buffer each group's values (fine
    * for a per-language profile: group count = |langs|); the sketch is
    * the scale path precisely because it does not.
    */
  def nsTextQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val qArr = Array(0.25, 0.5, 0.75, 0.9)
    val qs = "array(0.25D, 0.5D, 0.75D, 0.9D)"
    val n = size(col("vals"))
    val pos = element_at(lit(qArr), col("qi") + 1) * (n - 1)
    val slack = ceil(n / 10000.0)
    val loIdx = greatest(floor(pos) - slack, lit(0)).cast("int")
    val hiIdx = least(ceil(pos) + slack, (n - 1).cast("long")).cast("int")
    val approx = element_at(col("approx_qs"), col("qi") + 1)
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        expr(s"percentile(n_chars, $qs)").as("exact_qs"),
        expr(s"approx_percentile(n_chars, $qs, 10000)").as("approx_qs"),
        array_sort(collect_list(col("n_chars"))).as("vals"))
      .select(col("lang"), posexplode(col("exact_qs")).as(Seq("qi", "qv")),
        col("approx_qs"), col("vals"))
      .select(
        col("lang"),
        element_at(lit(qArr), col("qi") + 1).as("q"),
        round(col("qv"), 6).as("n_chars_q"),
        (approx >= element_at(col("vals"), loIdx + 1)
          && approx <= element_at(col("vals"), hiIdx + 1)).as("approx_rank_ok"))
      .orderBy("lang", "q")
  }

  // ---- Per-source document cap --------------------------------------------

  private[graft] val SourceCap = 15L

  /** RefinedWeb-style per-source cap (Penedo et al. 2023 cap web domains;
    * the reference analog is its per-index LIMITed leaderboards): each
    * source keeps its [[SourceCap]] highest-quality documents, quality
    * being the integer stopword density q_u = (stop_hits * 1e6) div words
    * — exact Long arithmetic, so the rank order is engine-identical with
    * (q_u DESC, doc_id) tiebreaks and no float ever enters the ordering.
    *
    * TOP-N PER SKEWED KEY — sources are the classic skewed key (a
    * crawl's top domain can be ~10% of the corpus), the order key is a
    * COMPUTED quality (so the monotone-axis range-offset rank doesn't
    * apply), and the cap is a LITERAL — which makes this the shape
    * Spark's WindowGroupLimit rewrite solves outright: the `rank <=`
    * [[SourceCap]] filter inserts a PARTIAL group-limit before the
    * exchange, so each map partition forwards at most cap rows per
    * source (the local per-(source, partition) top-cap pre-prune,
    * performed by the physical planner), and the per-source merge task
    * ranks ≤ cap × partitions rows — bounded metadata-scale input, not
    * doc rows. MEASURED against an explicit two-level pre-prune (local
    * top-cap per (source, sample-key range), then the global rank; since
    * removed, table in docs/PLANS.md round 14) on a 70 %-one-source mix:
    * the window form shuffles 0.1 MB at 32M rows and wins at every scale
    * (0.46/0.61/2.30 s vs 0.83/0.83/2.71 s at 2M/8M/32M) because the
    * explicit first-level
    * window multiplies the partial prune's group count by the range
    * count (42 MB shuffled). The plan rule + WindowGroupLimit spec pin
    * the bounded shape structurally; quota-COLUMN selections (mixes,
    * topics, corpus-build) cannot use WindowGroupLimit (literal-only)
    * and keep the range-offset rank instead.
    */
  def nsCorpusSourceCap(spark: SparkSession, dir: String): DataFrame = {
    val ws = filter(split(lower(col("text")), " "), w => w =!= "")
    val stopHits =
      "size(filter(split(lower(text), ' '), t -> t IN ('the','a','of','and','is','to','in')))"
    Tables.documents(spark, dir)
      .where(size(ws) > 0)
      .select(
        col("doc_id"), col("source"),
        size(ws).cast("long").as("n_words"),
        expr(s"(CAST($stopHits AS BIGINT) * 1000000) DIV CAST(size(filter(split(lower(text), ' '), w -> w != '')) AS BIGINT)")
          .as("q_u"))
      .withColumn("src_rank",
        row_number().over(Window.partitionBy("source")
          .orderBy(col("q_u").desc, col("doc_id").asc)).cast("long"))
      .where(col("src_rank") <= SourceCap)
      .orderBy("source", "src_rank")
  }

  // ---- DSIR importance resampling -----------------------------------------

  private val DsirBuckets = 128

  /** Hashed-ngram bucket of a gram string — the classify family's
    * Rabin-Karp char fold mod [[DsirBuckets]], one string for both
    * engines.
    */
  private def gramBucketSql(g: String): String =
    (s"aggregate(transform(split($g, ''), ch -> CAST(ascii(ch) AS BIGINT))," +
      s" CAST(0 AS BIGINT), (acc, c) -> (acc * ${TextOps.RollBase} + c) % ${TextOps.RollMod})" +
      s" % $DsirBuckets")

  /** DSIR-style importance resampling (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): documents are
    * scored by the log-likelihood RATIO of two hashed-ngram bag models —
    * a TARGET model (every 10th document, the deterministic stand-in for
    * the high-quality target sample) and a SOURCE model (the rest) —
    * and `keep` selects target-like documents. The paper's feature space
    * is exactly this: unigrams + bigrams hashed into a fixed bucket
    * count, add-1-smoothed bucket probabilities.
    *
    * Engine-deterministic arithmetic: bucket probabilities are integer
    * micro-units via Long division (floored at 1 — a corpus large enough
    * to push a smoothed probability under 1e-6 must not hit ln(0)), the
    * per-bucket log table is fixed-pointed to micro-units ONCE (128
    * values, metadata — ln of an integer-valued double on both engines),
    * and each document's score is a SUM OF LONGS over its grams (order-
    * free; a float log-sum would be partition-order-dependent). The one
    * IEEE divide is the reported per-gram average.
    *
    * Scale posture: the model pass is one explode + a 2x128-row
    * aggregate (map-side combine absorbs the occurrence mass — the
    * BPE-train shape with a hard metadata-scale bound by construction);
    * scoring re-reads the SAME cached gram frame and is one doc-keyed
    * aggregation. The llr table rides as a 128-literal array, exactly
    * like the classifier weights and the IVF centroids.
    */
  /** The exploded (doc_id, bucket) gram frame nsCorpusDsir trains and
    * scores over.
    */
  private def dsirGrams(docs: DataFrame): DataFrame = {
    val ws = filter(split(lower(col("text")), " "), w => w =!= "")
    val uni = docs.select(col("doc_id"), explode(ws).as("g"))
    val bi = docs.select(col("doc_id"),
      explode(zip_with(
        slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
        slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("g"))
    uni.unionByName(bi)
      .select(col("doc_id"), expr(gramBucketSql("g")).as("b"))
  }

  /** Train the per-bucket fixed-point llr table from a corpus — bounded
    * at 2 x DsirBuckets rows BY CONSTRUCTION before the collect (the
    * hash projects the unbounded ngram space onto the fixed buckets —
    * no vocab-scale driver state anywhere). Shared by the batch query
    * and the streaming admission twin
    * ([[graft.streaming.StreamingDsir]]).
    */
  private[graft] def dsirLlrTable(docs: DataFrame): Array[Long] =
    dsirLlrTableFromGrams(dsirGrams(docs))

  private def dsirLlrTableFromGrams(grams: DataFrame): Array[Long] = {
    val counts = grams
      .groupBy((col("doc_id") % 10 === 0).as("tgt"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getBoolean(0), r.getLong(1), r.getLong(2)))
    def lpU(cnt: Long, total: Long): Long = {
      val pU = math.max(((cnt + 1L) * 1000000L) / (total + DsirBuckets), 1L)
      java.math.BigDecimal.valueOf(math.log(pU.toDouble / 1000000.0) * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    }
    val tgtCnt = counts.filter(_._1).map(c => c._2 -> c._3).toMap
    val srcCnt = counts.filterNot(_._1).map(c => c._2 -> c._3).toMap
    val (tgtTot, srcTot) = (tgtCnt.values.sum, srcCnt.values.sum)
    Array.tabulate(DsirBuckets) { b =>
      lpU(tgtCnt.getOrElse(b.toLong, 0L), tgtTot) -
        lpU(srcCnt.getOrElse(b.toLong, 0L), srcTot)
    }
  }

  /** (n_grams, llr_u) as PURE PROJECTION columns over `text` with the
    * trained llr table as literals — the stateless streaming-admission
    * form; identical integer arithmetic to the batch query's exploded
    * aggregation (spec-pinned row for row).
    */
  private[graft] def dsirScoreCols(llrU: Array[Long]): (Column, Column) = {
    val llrLit = llrU.mkString("array(", "L, ", "L)")
    val wsSql = "filter(split(lower(text), ' '), w -> w != '')"
    val biSql = s"zip_with(slice($wsSql, 1, greatest(size($wsSql) - 1, 0)), " +
      s"slice($wsSql, 2, greatest(size($wsSql) - 1, 0)), (a, b) -> concat(a, ' ', b))"
    def sumOver(arr: String, v: String): String =
      s"aggregate(transform($arr, $v -> element_at($llrLit, " +
        s"CAST(${gramBucketSql(v)} AS INT) + 1)), CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    (expr(s"CAST(size($wsSql) + greatest(size($wsSql) - 1, 0) AS BIGINT)"),
      expr(s"${sumOver(wsSql, "w")} + ${sumOver(biSql, "g")}"))
  }

  def nsCorpusDsir(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val grams = dsirGrams(docs).cache() // one explode pass: train + score
    val llrU = dsirLlrTableFromGrams(grams)
    val llrLit = llrU.mkString("array(", "L, ", "L)")
    grams
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(expr(s"element_at($llrLit, CAST(b AS INT) + 1)")).as("llr_u"))
      .where(col("n_grams") > 0)
      .select(
        col("doc_id"), col("n_grams"), col("llr_u"),
        round(col("llr_u").cast("double") / (col("n_grams") * 1000000.0), 6)
          .as("avg_llr"),
        (col("llr_u") > 0L).as("keep"))
      .orderBy("doc_id")
  }

  /** The DSIR CTE chain ending in `sd(doc_id, n_grams, llr_u)` — shared
    * by [[dsirOracle]] and the select-then-pack composition oracle
    * ([[PackingOps]]).
    */
  private[graft] def dsirCtes: String =
    s"""docs AS (
       |  SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
       |  FROM documents),
       |uni AS (SELECT doc_id, unnest(ws) AS g FROM docs),
       |bi AS (
       |  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
       |  FROM docs, unnest(range(1, len(ws))) AS t(i)
       |  WHERE len(ws) >= 2),
       |grams AS (SELECT doc_id, g FROM uni UNION ALL SELECT doc_id, g FROM bi),
       |hb AS (
       |  SELECT doc_id,
       |         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(string_split(g, ''), ch -> CAST(ascii(ch) AS BIGINT))),
       |           (acc, x) -> (acc * ${TextOps.RollBase} + x) % ${TextOps.RollMod})
       |           % $DsirBuckets AS BIGINT) AS b
       |  FROM grams),
       |tc AS (SELECT b, CAST(count(*) AS BIGINT) AS cnt FROM hb WHERE doc_id % 10 = 0 GROUP BY b),
       |sc AS (SELECT b, CAST(count(*) AS BIGINT) AS cnt FROM hb WHERE doc_id % 10 <> 0 GROUP BY b),
       |tt AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM hb WHERE doc_id % 10 = 0),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM hb WHERE doc_id % 10 <> 0),
       |bs AS (SELECT CAST(unnest(range(0, $DsirBuckets)) AS BIGINT) AS b),
       |model AS (
       |  SELECT bs.b,
       |    CAST(round(ln(CAST(GREATEST(((COALESCE(tc.cnt, 0) + 1) * 1000000) // (tt.tot + $DsirBuckets), 1) AS DOUBLE) / 1000000.0) * 1000000, 0) AS BIGINT)
       |    - CAST(round(ln(CAST(GREATEST(((COALESCE(sc.cnt, 0) + 1) * 1000000) // (st.tot + $DsirBuckets), 1) AS DOUBLE) / 1000000.0) * 1000000, 0) AS BIGINT) AS llr_u
       |  FROM bs LEFT JOIN tc ON bs.b = tc.b LEFT JOIN sc ON bs.b = sc.b
       |  CROSS JOIN tt CROSS JOIN st),
       |sd AS (
       |  SELECT hb.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |         CAST(sum(m.llr_u) AS BIGINT) AS llr_u
       |  FROM hb JOIN model m USING (b) GROUP BY hb.doc_id)""".stripMargin

  /** DSIR keep verdicts (doc_id rows) for `docs` under a GIVEN llr model
    * — the frozen-model form of the [[nsCorpusDsir]] gate: the incremental
    * platform path scores an arriving batch against the STORED day-1
    * table instead of retraining (retraining would silently re-key every
    * existing keep verdict). Pure projection ([[dsirScoreCols]] — the
    * spec-pinned equal of the exploded aggregation), so batch scoring
    * adds zero exchanges.
    */
  private[graft] def dsirKeepDocs(docs: DataFrame, llrU: Array[Long]): DataFrame = {
    val (nGrams, llrSum) = dsirScoreCols(llrU)
    docs.select(col("doc_id"), nGrams.as("n_grams"), llrSum.as("llr_u"))
      .where(col("n_grams") > 0 && col("llr_u") > 0)
      .select("doc_id")
  }

  /** [[dsirCtes]] with the llr MODEL trained on a doc-predicate-restricted
    * corpus (frozen day-1 model of the incremental platform path) while
    * `sd` still scores EVERY document against it. `pred` is a SQL
    * predicate over `doc_id`.
    */
  private[graft] def dsirCtesModelFrom(pred: String): String = {
    import SqlRewrite.replaceStrict
    val patched = replaceStrict(
      replaceStrict(dsirCtes,
        "FROM hb WHERE doc_id % 10 = 0",
        s"FROM hb WHERE doc_id % 10 = 0 AND ($pred)"),
      "FROM hb WHERE doc_id % 10 <> 0",
      s"FROM hb WHERE doc_id % 10 <> 0 AND ($pred)")
    // DuckDB inlines plain CTEs per reference — `docs` is read twice
    // (uni, bi) and `hb` five times (tc/sc/tt/st/sd); materialize both
    // or the corpus re-splits per reference.
    replaceStrict(
      replaceStrict(patched, "docs AS (", "docs AS MATERIALIZED ("),
      "hb AS (", "hb AS MATERIALIZED (")
  }

  private def dsirOracle: String =
    s"""WITH $dsirCtes
       |SELECT doc_id, n_grams, llr_u,
       |       round(CAST(llr_u AS DOUBLE) / (CAST(n_grams AS DOUBLE) * 1000000.0), 6) AS avg_llr,
       |       llr_u > 0 AS keep
       |FROM sd WHERE n_grams > 0 ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ns_corpus_sample_exact" -> (nsCorpusSampleExact _),
    "ns_corpus_sample_hash" -> (nsCorpusSampleHash _),
    "ns_corpus_dsir" -> (nsCorpusDsir _),
    "ns_corpus_source_cap" -> (nsCorpusSourceCap _),
    "ns_text_quantiles" -> (nsTextQuantiles _))

  val oracles: Map[String, String] = Map(
    "ns_corpus_dsir" -> dsirOracle,
    "ns_corpus_source_cap" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |         CAST(len(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS BIGINT) AS n_words,
         |         CAST(len(list_filter(string_split(lower(text), ' '),
         |           t -> t IN ('the','a','of','and','is','to','in'))) AS BIGINT) AS stop_hits
         |  FROM documents
         |  WHERE len(list_filter(string_split(lower(text), ' '), w -> w <> '')) > 0),
         |q AS (
         |  SELECT doc_id, source, n_words, (stop_hits * 1000000) // n_words AS q_u FROM d),
         |r AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY source
         |              ORDER BY q_u DESC, doc_id ASC) AS BIGINT) AS src_rank
         |  FROM q)
         |SELECT doc_id, source, n_words, q_u, src_rank
         |FROM r WHERE src_rank <= $SourceCap
         |ORDER BY source, src_rank""".stripMargin,
    "ns_corpus_sample_exact" ->
      s"""WITH h AS (
        |  SELECT doc_id, lang, source, n_chars,
        |         (doc_id * ${SampleKeyA} + ${SampleKeyB}) % ${SampleKeyP} AS sample_key
        |  FROM documents),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY lang
        |              ORDER BY sample_key, doc_id) AS BIGINT) AS sample_rank,
        |         count(*) OVER (PARTITION BY lang) AS cnt
        |  FROM h)
        |SELECT doc_id, lang, source, n_chars, sample_key, sample_rank
        |FROM r WHERE sample_rank <= ceil(cnt * 0.2)
        |ORDER BY lang, sample_rank""".stripMargin,
    "ns_corpus_sample_hash" ->
      s"""SELECT doc_id, lang, source, n_chars,
        |       (doc_id * ${SampleKeyA} + ${SampleKeyB}) % ${SampleKeyP} AS sample_key
        |FROM documents
        |WHERE (doc_id * ${SampleKeyA} + ${SampleKeyB}) % ${SampleKeyP} % 5 = 0
        |ORDER BY doc_id""".stripMargin,
    "ns_text_quantiles" ->
      """WITH q AS (
        |  SELECT lang, quantile_cont(n_chars, [0.25, 0.5, 0.75, 0.9]) AS qs
        |  FROM documents GROUP BY lang)
        |SELECT lang,
        |       unnest([0.25, 0.5, 0.75, 0.9]) AS q,
        |       round(unnest(qs), 6) AS n_chars_q,
        |       TRUE AS approx_rank_ok
        |FROM q ORDER BY lang, q""".stripMargin)
}
