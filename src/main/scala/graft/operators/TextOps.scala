package graft.operators

import graft.model.Tables
import graft.ops.Steps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** North-star text-analysis operators over the `documents` table
  * (builder brief + SURVEY.md §7.4): token counting, quality scoring,
  * language-ID heuristic, document fingerprinting. All pure column
  * expressions — codegen'd, shuffle-free (per-row), trivially scalable.
  */
object TextOps {

  /** Whitespace tokens + BPE-ish regex tokens (letter runs / digit runs /
    * single punctuation), the two standard token-count estimators.
    */
  def nsTextTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        expr("size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
          .cast("long").as("bpe_tokens"),
        length(col("text")).cast("long").as("chars"))
      .orderBy("doc_id")

  /** Quality scoring: length, mean token length, punctuation ratio,
    * stopword ratio, and a composite score with tier labels — the shape of
    * standard pretraining-corpus quality filters.
    */
  def nsTextQuality(spark: SparkSession, dir: String): DataFrame =
    qualityProfile(Tables.documents(spark, dir)).orderBy("doc_id")

  /** The quality battery as a frame transform — shared by the query above
    * and the shared-scan corpus report ([[graft.pipeline.Pipelines]]),
    * which feeds every metric from ONE cached documents frame.
    */
  private[graft] def qualityProfile(docs: DataFrame): DataFrame =
    qualityCols(docs)
      // Empty docs would divide by zero (Spark: null/NaN, DuckDB: inf —
      // engines disagree); quality scoring is undefined for them anyway.
      .where(length(col("text")) > 0)
      // One-element explode = Generate barrier (see [[gopherProfile]]):
      // callers filter on `tier`, and a pushed filter below the Project
      // re-inlines the whole score chain per predicate.
      .select(col("doc_id"), explode(array(struct(
        col("n_tokens"), col("mean_token_len"), col("punct_ratio"),
        col("stopword_ratio"), col("quality_score"), col("tier")))).as("_q"))
      .select(col("doc_id"), col("_q.n_tokens").as("n_tokens"),
        col("_q.mean_token_len").as("mean_token_len"),
        col("_q.punct_ratio").as("punct_ratio"),
        col("_q.stopword_ratio").as("stopword_ratio"),
        col("_q.quality_score").as("quality_score"), col("_q.tier").as("tier"))

  /** The quality column stage: appends the score columns, KEEPING input
    * columns so stages chain into one projection ([[corpusProfile]]).
    * `tier` is null for empty docs (scoring undefined — the profile
    * wrapper filters them; the fused report excludes null tiers, which is
    * the same histogram).
    */
  private def qualityCols(docs: DataFrame): DataFrame = {
    val toks = size(split(col("text"), " ")).cast("double")
    val stopHits =
      expr("size(filter(split(lower(text), ' '), t -> t IN ('the','a','of','and','is','to','in')))")
        .cast("double")
    val punct =
      expr("size(regexp_extract_all(lower(text), '[^a-z0-9 ]', 0))").cast("double")
    docs
      .withColumn("n_tokens", toks.cast("long"))
      .withColumn("mean_token_len", round(length(col("text")) / toks, 6))
      .withColumn("punct_ratio", round(punct / length(col("text")), 6))
      .withColumn("stopword_ratio", round(stopHits / toks, 6))
      .withColumn("quality_score",
        round(least(lit(1.0),
          col("stopword_ratio") * 2.0
            + when(col("n_tokens") >= 20, 0.5).otherwise(0.0)
            - col("punct_ratio")), 6))
      .withColumn("tier",
        when(length(col("text")) > 0,
          when(col("quality_score") >= 0.7, "high")
            .when(col("quality_score") >= 0.4, "medium")
            .otherwise("low")))
  }

  /** Language-ID via stopword-hit scoring (n-gram-free heuristic): count
    * hits against per-language function-word lists, argmax with fixed
    * precedence. Deterministic and engine-portable.
    */
  def nsTextLangId(spark: SparkSession, dir: String): DataFrame =
    langIdProfile(Tables.documents(spark, dir)).orderBy("doc_id")

  /** The language-ID scorer as a frame transform — shared by the query
    * above and the shared-scan corpus report ([[qualityProfile]]'s
    * rationale).
    */
  private[graft] def langIdProfile(docs: DataFrame): DataFrame =
    langIdCols(docs)
      .select("doc_id", "lang", "predicted_lang", "en_hits", "es_hits",
        "de_hits", "fr_hits")

  /** The language-ID column stage — appends hit counts + predicted_lang,
    * keeping input columns so stages chain ([[corpusProfile]]).
    */
  private def langIdCols(docs: DataFrame): DataFrame = {
    def hits(words: Seq[String]): org.apache.spark.sql.Column =
      expr(s"size(filter(split(lower(text), ' '), t -> t IN (${words.map("'" + _ + "'").mkString(",")})))")
        .cast("long")
    docs
      .withColumn("en_hits", hits(Seq("the", "a", "of", "and", "is")))
      .withColumn("es_hits", hits(Seq("el", "la", "de", "los", "y")))
      .withColumn("de_hits", hits(Seq("der", "die", "das", "und", "ist")))
      .withColumn("fr_hits", hits(Seq("le", "la", "de", "les", "et")))
      .withColumn("predicted_lang",
        when(col("en_hits") >= col("es_hits") && col("en_hits") >= col("de_hits")
          && col("en_hits") >= col("fr_hits") && col("en_hits") > 0, "en")
          .when(col("es_hits") >= col("de_hits") && col("es_hits") >= col("fr_hits")
            && col("es_hits") > 0, "es")
          .when(col("de_hits") >= col("fr_hits") && col("de_hits") > 0, "de")
          .when(col("fr_hits") > 0, "fr")
          .otherwise("unknown"))
  }

  /** Document fingerprinting: sha256 over whitespace-normalized lowercase
    * text, plus a 16-bit hex prefix bucket (the shard key a 100 TB dedup
    * would partition on).
    */
  def nsTextFingerprint(spark: SparkSession, dir: String): DataFrame = {
    val normalized = regexp_replace(lower(col("text")), "\\s+", " ")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        sha2(normalized, 256).as("fingerprint"),
        substring(sha2(normalized, 256), 1, 4).as("bucket"))
      .orderBy("doc_id")
  }

  // ---- Rolling-hash fingerprint -------------------------------------------

  private[operators] val RollBase = 31L
  private[operators] val RollMod = 1000000007L
  private val KGram = 16

  /** Rolling-hash document fingerprint (the winnowing/Rabin-Karp shape):
    * a polynomial hash of the full character stream plus the MINIMUM
    * polynomial hash over all [[KGram]]-char windows — the content-defined
    * fingerprint a shift-robust dedup selects on.
    *
    * Portability over speed in the window step: each window re-folds its
    * k chars (O(n·k) per doc) so the SAME fold is replayable in the DuckDB
    * oracle (`list_reduce`). [[nsTextRollhashFast]] is the 100 TB path —
    * prefix-hash differencing in a `mapPartitions` pass, O(n) per doc,
    * held to the SAME oracle; the operator contract — fold, window, min —
    * is what these queries pin down.
    */
  def nsTextRollhash(spark: SparkSession, dir: String): DataFrame = {
    val fold = s"(acc, x) -> (acc * $RollBase + x) % $RollMod"
    // O(n·k)-per-doc refold — size-shaped ordered projection (round-15,
    // [[graft.ops.Spread.projectOrdered]]): measured 8.1 s → 1.0 s at
    // sf0.1 (below the presentation sort the refold ran twice and
    // serialized in the single-row-group scan's one task).
    graft.ops.Spread.projectOrdered(
      Tables.documents(spark, dir).select("doc_id", "text"), "doc_id") {
      _.withColumn("codes", expr("transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT))"))
        .select(
          col("doc_id"),
          expr(s"aggregate(codes, CAST(0 AS BIGINT), $fold)").as("full_hash"),
          expr(
            s"""CASE WHEN size(codes) >= $KGram THEN
               |  array_min(transform(sequence(1, size(codes) - ${KGram - 1}),
               |    i -> aggregate(slice(codes, i, $KGram), CAST(0 AS BIGINT), $fold)))
               |ELSE NULL END""".stripMargin).as("min_kgram_hash"))
    }
  }

  /** The O(n) rolling-hash fingerprint: window hash i derives from prefix
    * hashes by differencing — H(i) = (P(i+k-1) − P(i-1)·B^k) mod M — in
    * one `mapPartitions` pass, instead of re-folding every k-char window.
    * Byte-identical to [[nsTextRollhash]] (same polynomial, same
    * windows), so it is held to the SAME DuckDB oracle. NULL text yields
    * NULL hashes like the column form; iteration is per CODE POINT to
    * match `split(text, '')` (fixtures are ASCII, where the two coincide).
    */
  def nsTextRollhashFast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (base, mod, k) = (RollBase, RollMod, KGram)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        // B^k mod M, computed once per partition.
        val bk = (1 to k).foldLeft(1L)((acc, _) => acc * base % mod)
        it.map { case (id, text) =>
          if (text == null) (id, None: Option[Long], None: Option[Long])
          else {
            // Iterate CODE POINTS, not UTF-16 units — split(text, '') is
            // code-point-wise in both engines, and a supplementary char
            // must hash as one value, not two surrogate halves.
            var i = 0 // char (UTF-16) index
            var cnt = 0 // code points consumed = P(cnt)'s length
            var p = 0L // P(cnt): running prefix hash
            var minWin = Long.MaxValue
            // prefix[cnt-k] needed to subtract — keep a ring of the last
            // k+1 prefix values instead of an O(n) array.
            val ring = new Array[Long](k + 1)
            while (i < text.length) {
              val cp = text.codePointAt(i)
              ring(cnt % (k + 1)) = p
              p = (p * base + cp.toLong) % mod
              cnt += 1
              if (cnt >= k) {
                val pPrev = ring((cnt - k) % (k + 1)) // P(cnt-k)
                val h = ((p - pPrev * bk % mod) % mod + mod) % mod
                if (h < minWin) minWin = h
              }
              i += Character.charCount(cp)
            }
            (id, Some(p), if (cnt >= k) Some(minWin) else None)
          }
        }
      }
      .toDF("doc_id", "full_hash", "min_kgram_hash")
      .orderBy("doc_id")
  }

  private def rollhashOracle: String = {
    val fold = s"(acc, x) -> (acc * $RollBase + x) % $RollMod"
    s"""WITH c AS (
       |  SELECT doc_id,
       |         list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT)) AS codes
       |  FROM documents)
       |SELECT doc_id,
       |       list_reduce(list_prepend(CAST(0 AS BIGINT), codes), $fold) AS full_hash,
       |       CASE WHEN len(codes) >= $KGram THEN
       |         list_min(list_transform(range(1, len(codes) - ${KGram - 2}),
       |           i -> list_reduce(list_prepend(CAST(0 AS BIGINT), codes[i:i+${KGram - 1}]), $fold)))
       |       ELSE NULL END AS min_kgram_hash
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** Intra-document repetition scoring (the Gopher-style repetition
    * filter): duplicate word-3-gram ratio and the top 3-gram's share of
    * all occurrences. Reuses [[DedupOps.explodedShingles]] — ONE
    * tokenization definition across the dedup and text families (the
    * fingerprint stands in for the string; same-fingerprint collisions
    * are the dedup family's documented negligible odds). Per-row explode
    * + two doc_id-clustered aggregations; no cross-doc joins at all, so
    * the shape is scan-bound at any scale.
    */
  def nsTextRepetition(spark: SparkSession, dir: String): DataFrame =
    DedupOps.explodedShingles(Tables.documents(spark, dir))
      .groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("total_3grams"),
        count(lit(1)).as("uniq_3grams"),
        max("c").as("top_count"))
      .select(col("doc_id"), col("total_3grams"), col("uniq_3grams"),
        round(lit(1) - col("uniq_3grams") / col("total_3grams"), 6).as("dup_ratio"),
        round(col("top_count") / col("total_3grams"), 6).as("top_share"))
      .withColumn("repetitive", col("dup_ratio") > 0.03)
      .orderBy("doc_id")

  // ---- Gopher-rules composite quality filter ------------------------------

  /** The Gopher quality-rule battery (Rae et al. 2021 §A1.1) as ONE
    * shuffle-free projection — the standard pretraining document gate,
    * composed from the same signal family the individual queries
    * ([[nsTextQuality]], [[nsTextRepetition]]) expose, but evaluated
    * entirely inside whole-stage codegen with NO cross-row operator
    * anywhere: even the 3-gram duplication rule runs on an in-row array
    * (`transform`/`array_distinct`), not the exploded shingle shuffle —
    * a per-document rule never needs one. Scan → Project → (presentation
    * sort); linear in bytes, the 100 TB ingest-filter shape.
    *
    * Every ratio is fixed-pointed to integer micro-units with Long
    * `DIV` (floor) so both engines compare identical integers — no float
    * enters any rule decision. Rules (thresholds from the paper, word
    * bounds adapted to the fixture's 10-99-word documents so the gate
    * is exercised in both directions):
    *   r_words:   20 <= n_words <= 90
    *   r_mwl:     mean word length in [3, 10]
    *   r_symbol:  symbols (non-alphanumeric chars) per word <= 0.1
    *   r_alpha:   >= 80% of words contain a letter
    *   r_stop:    >= 2 distinct function words present
    *   r_rep:     duplicate word-3-gram mass <= 3% (vacuous under 3 words)
    */
  def nsTextGopher(spark: SparkSession, dir: String): DataFrame =
    // Size-shaped ordered projection (round-15): the battery is
    // ~1 ms/doc, so below the presentation sort it would run twice and
    // serialize in a narrow scan's task count.
    graft.ops.Spread.projectOrdered(
      Tables.documents(spark, dir).select("doc_id", "text"), "doc_id")(
      gopherProfile)

  // ---- Corpus-level hot n-grams -------------------------------------------

  private[operators] val HotNgramK = 50

  /** The corpus's TOP-[[HotNgramK]] word-3-grams by document frequency —
    * the phrase-granularity boilerplate candidate table (the CCNet-family
    * signal [[graft.operators.DedupOps.nsDedupLines]] computes at line
    * granularity): navigation chrome, legal footers and template phrases
    * surface here long before any pair-level dedup runs, and the result
    * is the natural input to a phrase blocklist.
    *
    * Scale shape: one (doc, shingle) dedup exchange + one df aggregation
    * (both uniformly hashed, map-side-combined), then the global top-k is
    * `TakeOrderedAndProject` — every partition forwards at most k rows,
    * NO global sort (spec-pinned). The rank window runs on the k-row
    * result only.
    */
  def nsTextHotNgrams(spark: SparkSession, dir: String): DataFrame = {
    val topK = DedupOps.wordShingles(Tables.documents(spark, dir))
      .distinct()
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("shingle")).limit(HotNgramK)
    topK.withColumn("rank", row_number()
      .over(Window.orderBy(col("df").desc, col("shingle"))).cast("long"))
      .select("rank", "shingle", "df")
      .orderBy("rank")
  }

  /** The rule battery as a frame transform — shared by the batch query
    * and the ingest-time gate ([[graft.streaming.StreamingQualityGate]]),
    * which is legal precisely because this is a stateless per-row
    * projection.
    *
    * The battery rides a ONE-ELEMENT EXPLODE (a Generate barrier,
    * round-15): every gate caller filters on `pass`, and
    * PushDownPredicates substitutes projection aliases UNCONDITIONALLY
    * when it pushes a filter below a Project — the pushed `pass`
    * predicate re-inlined the whole battery with the let-bound `ws`
    * column expanded at every reference (23 `split(lower(text))` per
    * row, the dup3 rule re-splitting per element_at — measured 4.5-5.5 s
    * per gate pass over 4.7k fixture docs, ~6× the battery's real cost),
    * and the inlined filter then sat below every exchange, serialized in
    * the scan's task. A filter on a Generate output cannot be pushed
    * below the Generate, so the battery is evaluated exactly once per
    * row, above whatever parallelism the input has.
    */
  private[graft] def gopherProfile(docs: DataFrame): DataFrame =
    gopherCols(docs)
      .select(col("doc_id"), explode(array(struct(
        col("nw").as("n_words"), col("mwl_u"), col("sym_u"),
        col("alpha_u"), col("n_stop_distinct"), col("dup3_u"),
        col("r_words"), col("r_mwl"), col("r_symbol"), col("r_alpha"),
        col("r_stop"), col("r_rep"), col("pass")))).as("_g"))
      .where(col("_g.n_words") > 0)
      .select(
        col("doc_id"), col("_g.n_words").as("n_words"), col("_g.mwl_u").as("mwl_u"),
        col("_g.sym_u").as("sym_u"), col("_g.alpha_u").as("alpha_u"),
        col("_g.n_stop_distinct").as("n_stop_distinct"), col("_g.dup3_u").as("dup3_u"),
        col("_g.r_words").as("r_words"), col("_g.r_mwl").as("r_mwl"),
        col("_g.r_symbol").as("r_symbol"), col("_g.r_alpha").as("r_alpha"),
        col("_g.r_stop").as("r_stop"), col("_g.r_rep").as("r_rep"),
        col("_g.pass").as("pass"))

  /** The Gopher column stage: appends the rule/ratio columns, KEEPING
    * input columns so stages chain into one projection
    * ([[corpusProfile]]). Every `DIV nw` is CASE-guarded so the
    * unfiltered form is ANSI-safe for zero-word docs — such docs fail
    * `r_words` (and thus `pass`) by construction, exactly as if the
    * profile's nw > 0 filter had dropped them.
    */
  private def gopherCols(docs: DataFrame): DataFrame = {
    val stopList = "'the','a','of','and','is','to','in','that','be','have','with'"
    // `ws` is materialized ONCE as a column: inlining the filter∘split
    // string into the dup3 lambda makes every element_at re-split the
    // text (measured 11-16 s at sf0.1 vs 0.4 s this way — lambda bodies
    // get no common-subexpression elimination).
    docs
      .withColumn("ws", expr("filter(split(lower(text), ' '), w -> w != '')"))
      .withColumn("nw", expr("CAST(size(ws) AS BIGINT)"))
      .withColumn("mwl_u", expr(
        """CASE WHEN nw > 0 THEN
          |  (aggregate(transform(ws, w -> CAST(length(w) AS BIGINT)), CAST(0 AS BIGINT), (acc, x) -> acc + x) * 1000000) DIV nw
          |END""".stripMargin))
      .withColumn("sym_u", expr(
        "CASE WHEN nw > 0 THEN (CAST(size(regexp_extract_all(lower(text), '[^a-z0-9 ]', 0)) AS BIGINT) * 1000000) DIV nw END"))
      .withColumn("alpha_u", expr(
        "CASE WHEN nw > 0 THEN (CAST(size(filter(ws, w -> w RLIKE '[a-z]')) AS BIGINT) * 1000000) DIV nw END"))
      .withColumn("n_stop_distinct", expr(
        s"CAST(size(array_distinct(filter(ws, t -> t IN ($stopList)))) AS BIGINT)"))
      .withColumn("dup3_u", expr(
        """CASE WHEN nw >= 3 THEN
          |  ((nw - 2 - CAST(size(array_distinct(transform(sequence(1, CAST(nw AS INT) - 2),
          |      i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1), ' ', element_at(ws, i + 2))))) AS BIGINT))
          |   * 1000000) DIV (nw - 2)
          |ELSE CAST(0 AS BIGINT) END""".stripMargin))
      .withColumn("r_words", col("nw") >= 20 && col("nw") <= 90)
      .withColumn("r_mwl", col("mwl_u") >= 3000000L && col("mwl_u") <= 10000000L)
      .withColumn("r_symbol", col("sym_u") <= 100000L)
      .withColumn("r_alpha", col("alpha_u") >= 800000L)
      .withColumn("r_stop", col("n_stop_distinct") >= 2L)
      .withColumn("r_rep", col("dup3_u") <= 30000L)
      .withColumn("pass",
        col("r_words") && col("r_mwl") && col("r_symbol")
          && col("r_alpha") && col("r_stop") && col("r_rep"))
  }

  /** ALL per-document text-health columns of the nightly corpus report in
    * ONE chained projection — gopher battery, quality tier, language ID,
    * and the volume counters — so the report's text metrics cost a single
    * pass over the corpus instead of one scan per metric family. Each
    * stage is the SAME column builder its published operator wraps
    * (gopherCols / qualityCols / langIdCols), so the values cannot drift
    * from the oracled queries; the only differences are the row guards,
    * restated here null-safely:
    *   - gopher_pass is false for zero-word docs (the profile filters
    *     them; false is what the report's count-of-pass needs);
    *   - tier is null for empty docs (the profile filters them; the
    *     report excludes null tiers from the histogram).
    * PipelineGoldenSpec pins each fused metric against the
    * independently-computed published operator.
    */
  private[graft] def corpusProfile(docs: DataFrame): DataFrame =
    langIdCols(qualityCols(gopherCols(docs)))
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        length(col("text")).cast("long").as("chars"),
        col("pass").as("gopher_pass"),
        col("tier"),
        col("predicted_lang"))

  /** Corpus-frequency rarity scoring (the CCNet/Gopher-family quality
    * signal computed from the corpus itself): per document, the mean
    * corpus frequency of its words and the fraction of words that are
    * corpus-rare (global count ≤ 2). Two passes — the word-count table is
    * trained once over the corpus, then joined back to the exploded words
    * — with exact Long arithmetic until ONE IEEE divide + round(6) per
    * output column, so both engines land identical bits (the op33
    * pattern). At 100 TB the count table is a standard LM-training side
    * output and the score join is a linear shuffle on the word key
    * (stopword skew handled by AQE skew-split, or the Skew.salted path).
    */
  def nsTextRarity(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("wd"))
    val counts = words.groupBy("wd").agg(count(lit(1)).as("c"))
    words.join(counts, "wd")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        round(sum("c") / count(lit(1)), 6).as("mean_word_freq"),
        round(sum(when(col("c") <= 2, 1L).otherwise(0L)) / count(lit(1)), 6)
          .as("rare_ratio"))
      .withColumn("rare_heavy", col("rare_ratio") > 0.5)
      .orderBy("doc_id")
  }

  /** Bigram language-model confidence scoring — the perplexity-filter
    * shape (CCNet-style) of a pretraining pipeline: train a bigram LM on
    * the corpus itself (one aggregation pass), then score every document
    * by the mean conditional probability of its word transitions; low
    * scores mark incoherent/boilerplate text. Instead of a float log-
    * likelihood (whose `ln` differs across engines in the last ulp), the
    * conditional probability is exact integer micro-units — `c(w1,w2) *
    * 1e6 div c(w1)` — summed as Longs into ONE IEEE divide + round(6),
    * and the `fluent` flag is an integer cross-multiplication (mean ≥
    * 1/29, the corpus median), so both engines agree bit-for-bit.
    *
    * Scale posture: transitions are map-side (per-row transform+explode);
    * the bigram table aggregates with map-side combine and joins back on
    * the (w1, w2) key — broadcast at test scale, SMJ at 100 TB — the same
    * join-back family as [[nsTextRarity]]/[[nsTextSalient]], linear in
    * corpus size with a vocabulary²-bounded model table.
    */
  def nsTextBigramLm(spark: SparkSession, dir: String): DataFrame =
    bigramDocScores(spark, dir)
      .agg(
        count(lit(1)).as("n_trans"),
        min("p_u").as("min_p_u"),
        // Floor the per-transition mean IN MICRO-UNITS before the one
        // IEEE divide: sum/count can land exactly on a 6dp half-way
        // boundary (hit at sf0.1 row 668: 0.0326705 — Spark's decimal-
        // string HALF_UP rounds up, DuckDB's binary round rounds down);
        // after the integer div the value IS the boundary-free 6dp
        // decimal, the same discipline as the BM25 score.
        round(expr("CAST(sum(p_u) div count(1) AS DOUBLE) / 1000000.0"), 6)
          .as("mean_p"),
        (sum("p_u") * 29 >= count(lit(1)) * lit(1000000L)).as("fluent"))
      .orderBy("doc_id")

  /** The scored (doc_id-grouped but un-aggregated) transition frame the
    * LM family's consumers aggregate — shared by [[nsTextBigramLm]] and
    * the curriculum bucketing ([[nsCorpusCurriculum]]).
    */
  private[operators] def bigramDocScores(
      spark: SparkSession, dir: String): org.apache.spark.sql.RelationalGroupedDataset = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      // sequence(0, size-2) would flip to a DESCENDING sequence for a
      // 1-word doc (Spark defaults step to -1 when start > stop); such
      // docs have no transitions on either engine, so drop them here.
      .where(size(col("w")) >= 2)
    val tr = docs
      .select(col("doc_id"), explode(
        expr("transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i + 1] AS w2))")).as("t"))
      .select(col("doc_id"), col("t.w1"), col("t.w2"))
    val c12 = tr.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = tr.groupBy("w1").agg(count(lit(1)).as("c1"))
    val model = c12.join(c1, "w1")
      .select(col("w1"), col("w2"), expr("c12 * 1000000 div c1").as("p_u"))
    tr.join(model, Seq("w1", "w2"))
      .groupBy("doc_id")
  }

  /** Curriculum bucketing — difficulty DECILES over the bigram-LM
    * fluency score (curriculum learning's data-ordering step: train
    * easy-to-hard, where "easy" = high model-probability text). The
    * per-doc score is the boundary-free micro-unit mean of
    * [[nsTextBigramLm]]; the decile is the exact global-rank bucket
    * `(rank-1)·10 div N + 1` with doc_id tie-breaks.
    *
    * Scale shape — exact global ranking WITHOUT a global row window
    * (the ns_pack_chunks_global offset pattern applied to ranking):
    *  1. the per-score HISTOGRAM aggregates first — bounded at <= 1e6+1
    *     rows BY CONSTRUCTION (mean_p_u is an integer micro-unit
    *     probability), independent of corpus size — and its running
    *     offsets window over that bounded table only;
    *  2. doc rows get rank = score_offset + within-score rank, where
    *     the within-score rank itself rides the range-offset scan
    *     ([[graft.operators.PackingOps.rangedPrefix]] counting rows in
    *     doc_id order): doc rows only ever see (mean_p_u, id-range)
    *     windows — the score key's cardinality is DATA-DEPENDENT (a
    *     corpus whose docs concentrate on few scores would funnel a
    *     score-only window), so it gets the same treatment as the
    *     lang/source keys — and the decile is integer arithmetic
    *     against the broadcast total.
    * The oracle states the same semantics as one global window — the
    * plan never runs one over doc rows. Construction runs the prefix
    * scan's bounded eager id-bounds action (rangedPrefix contract).
    */
  def nsCorpusCurriculum(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = bigramDocScores(spark, dir)
      .agg(
        count(lit(1)).as("n_trans"),
        expr("CAST(sum(p_u) div count(1) AS BIGINT)").as("mean_p_u"))
      .withColumn("_one", lit(1L))
      .cache() // histogram + rank-kernel passes all read it
    val byScore = Window.orderBy("mean_p_u")
      .rowsBetween(Window.unboundedPreceding, -1)
    val hist = scored.groupBy("mean_p_u").agg(count(lit(1)).as("c"))
      .withColumn("cum_before", coalesce(sum("c").over(byScore), lit(0L)))
      .select("mean_p_u", "cum_before")
    val total = scored.agg(count(lit(1)).as("n"))
    // Within-score rank = (count of preceding rows in doc_id order) + 1
    // — the ranged prefix scan over a unit column.
    graft.operators.PackingOps
      .rangedPrefix(scored, "mean_p_u", "_one", "_cnt_before")
      .join(broadcast(hist), "mean_p_u")
      .crossJoin(broadcast(total))
      .withColumn("rnk", col("cum_before") + col("_cnt_before") + 1L)
      .withColumn("decile", expr("(rnk - 1) * 10 div n + 1"))
      .select("doc_id", "n_trans", "mean_p_u", "rnk", "decile")
      .orderBy("doc_id")
  }

  private val CollocMinSupport = 5L
  private val CollocK = 20

  /** Collocation mining — top-[[CollocK]] word pairs by PMI-style lift
    * (corpus-level statistics for vocabulary/phrase induction, the other
    * consumer of the bigram table [[nsTextBigramLm]] builds). PMI =
    * log(c12·N / (c1·c2)) is monotone in c12/(c1·c2) at fixed N, so the
    * rank key is the LIFT in fixed-point — `(c12·1e6 div c1)·1e6 div c2`
    * — two floor divisions that stay under 1e12 for ANY corpus size
    * (overflow-safe where the single-expression c12·N·1e6 form is not)
    * and are replayed verbatim by DuckDB `//`. Ties break
    * lexicographically; min support [[CollocMinSupport]] prunes noise
    * pairs map-side.
    *
    * Scale posture: the ranked table is the vocabulary²-bounded model
    * AFTER min-support pruning — metadata-scale — so the global top-k
    * window is a driver-sized sort; all corpus-scale work is the one
    * aggregation pass shared with the LM family.
    */
  def nsTextCollocations(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .where(size(col("w")) >= 2)
    val tr = docs
      .select(explode(
        expr("transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i + 1] AS w2))")).as("t"))
      .select(col("t.w1"), col("t.w2"))
    val c12 = tr.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .where(col("c12") >= CollocMinSupport)
    val left = tr.groupBy("w1").agg(count(lit(1)).as("c1"))
    val right = tr.groupBy("w2").agg(count(lit(1)).as("c2"))
    c12.join(left, "w1").join(right, "w2")
      .withColumn("lift_u", expr("((c12 * 1000000 div c1) * 1000000) div c2"))
      .withColumn("rnk", row_number()
        .over(Window.orderBy(col("lift_u").desc, col("w1"), col("w2")))
        .cast("long"))
      .where(col("rnk") <= CollocK)
      .select("rnk", "w1", "w2", "c12", "c1", "c2", "lift_u")
      .orderBy("rnk")
  }

  // ---- Chunking + salient terms -------------------------------------------

  private val ChunkWords = 32  // words per chunk
  private val ChunkStride = 24 // starts every 24 words → 8-word overlap
  private val SalientK = 5

  /** RAG-style sliding-window chunking: each document becomes overlapping
    * [[ChunkWords]]-word chunks whose starts step by [[ChunkStride]]
    * (8-word overlap), the standard retrieval/embedding prep. Chunk count
    * is pure non-negative integer arithmetic — `(extra + stride-1) div
    * stride` — so both engines enumerate identical chunks (no float
    * ceil at an integer boundary). Per-row explode, no shuffle before the
    * presentation sort: at 100 TB this is map-side work that scales with
    * the scan, and the ~1.3× row/byte expansion (32/24) is the declared
    * cost of overlap, paid once at write time.
    */
  def nsTextChunks(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("w", split(col("text"), " "))
      .withColumn("extra",
        greatest(lit(0L), size(col("w")).cast("long") - ChunkWords))
      .withColumn("chunk_idx", explode(
        expr(s"sequence(CAST(0 AS BIGINT), (extra + ${ChunkStride - 1}) div $ChunkStride)")))
      .withColumn("chunk",
        expr(s"slice(w, CAST(chunk_idx * $ChunkStride + 1 AS INT), $ChunkWords)"))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_chunk_words"),
        array_join(col("chunk"), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")

  /** Salient-term extraction: top-[[SalientK]] terms per document ranked
    * by tf/df (term frequency over document frequency — the idf-flavored
    * saliency a retrieval index or corpus-inspection tool surfaces).
    * Ranking uses the round(6) score with a lexicographic tie-break, so
    * the order is engine-deterministic; tf and df stay exact Longs. Same
    * scale posture as [[nsTextRarity]]: the df table broadcasts back onto
    * the doc-clustered tf table (SMJ on the word key past the broadcast
    * threshold), then one doc_id window — all linear.
    */
  def nsTextSalient(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("wd"))
    val tf = words.groupBy("doc_id", "wd").agg(count(lit(1)).as("tf"))
    val df = words.select("doc_id", "wd").distinct()
      .groupBy("wd").agg(count(lit(1)).as("df"))
    tf.join(df, "wd")
      .withColumn("score", round(col("tf") / col("df"), 6))
      .withColumn("rnk", row_number()
        .over(Window.partitionBy("doc_id").orderBy(col("score").desc, col("wd")))
        .cast("long"))
      .where(col("rnk") <= SalientK)
      .select("doc_id", "rnk", "wd", "tf", "df", "score")
      .orderBy("doc_id", "rnk")
  }

  // ---- BPE tokenizer training ---------------------------------------------

  private[graft] val BpeMerges = 10
  // Driver-side vocab bound (standard BPE practice, e.g. HF tokenizers'
  // min_frequency): words below the frequency floor are excluded from the
  // merge-training statistics, and the collected vocab is hard-capped at
  // the top-V most frequent words (ties broken by symbol string for
  // determinism). On Zipf-tailed web text the DISTINCT-word table grows
  // with the corpus (URLs, typos, hex blobs) — without both bounds the
  // vocab collect at [[trainBpeMerges]] would be corpus-scale, not
  // metadata-scale, and the driver would OOM at 100 TB. With them the
  // collect is <= BpeMaxVocab rows by construction. Encoding is
  // unaffected: trained merges apply to EVERY word.
  private[operators] val BpeWordMinFreq = 2L
  private[operators] val BpeMaxVocab = 65536

  /** BPE merge-table training over the corpus — the tokenizer-training
    * stage of an LLM data pipeline (the HF-tokenizers shape): ONE
    * corpus-scale pass aggregates word frequencies, then the merge loop
    * runs over the metadata-scale vocabulary on the driver (exactly like
    * [[SimilarityOps.trainCentroids]] collects k×dim centroids per Lloyd
    * iteration — at 100 TB the vocab is millions of rows while the corpus
    * is trillions of tokens, so the corpus pass is the only distributed
    * work BPE needs). Each iteration counts adjacent symbol pairs
    * (freq-weighted), merges the most frequent (ties: lexicographic
    * left, then right), and rewrites the vocab.
    *
    * Symbol sequences are anchored pipe-delimited strings ('|a|b|c|') and
    * a merge is literal string replace of '|l|r|' with '|lr|' — scan
    * left-to-right, non-overlapping, which IS greedy BPE merge order,
    * and identical between Java's String.replace and SQL replace(), so
    * the DuckDB oracle replays every iteration symbolically. All
    * arithmetic is integer counts and byte-ordered ASCII strings — the
    * one query in the family with NO float anywhere.
    */
  def nsTextBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainBpeMerges(spark, dir)
      .toDF("merge_rank", "left_sym", "right_sym", "merged", "pair_count")
      .orderBy("merge_rank")
  }

  /** The driver-side merge loop shared by train and encode: one
    * distributed word-frequency pass, then [[BpeMerges]] iterations over
    * the collected vocab — metadata-scale BY CONSTRUCTION: the frequency
    * floor + top-V cap ([[BpeWordMinFreq]]/[[BpeMaxVocab]]) bound the
    * collect at <= BpeMaxVocab rows regardless of corpus size.
    */
  private[graft] def trainBpeMerges(
      spark: SparkSession, dir: String,
      docFilter: Column = lit(true)): Seq[(Long, String, String, String, Long)] = {
    val wc = Tables.documents(spark, dir)
      .where(docFilter)
      .select(explode(split(lower(col("text")), " ")).as("wd"))
      .groupBy("wd").agg(count(lit(1)).as("freq"))
      // Both bounds BEFORE the collect — see [[BpeWordMinFreq]]. The sort
      // runs on the already-floored vocab table, not the corpus.
      .where(col("freq") >= BpeWordMinFreq)
      .orderBy(desc("freq"), col("wd"))
      .limit(BpeMaxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var vocab: Array[(Long, String)] = wc.map { case (w, f) =>
      (f, w.codePoints.toArray.map(cp => new String(Character.toChars(cp)))
        .mkString("|", "|", "|"))
    }
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= BpeMerges && !exhausted) {
      val counts = collection.mutable.LinkedHashMap.empty[(String, String), Long]
      for ((f, seq) <- vocab) {
        val syms = seq.split("\\|").filter(_.nonEmpty)
        var j = 0
        while (j < syms.length - 1) {
          val k = (syms(j), syms(j + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          j += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        val ((l, r), cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        merges += ((rank.toLong, l, r, l + r, cnt))
        vocab = vocab.map { case (f, seq) =>
          (f, seq.replace(s"|$l|$r|", s"|$l$r|"))
        }
        rank += 1
      }
    }
    merges.result()
  }

  /** BPE tokenizer APPLICATION — encode every document with the merge
    * table [[trainBpeMerges]] just trained (the tokenize-the-corpus stage
    * that follows tokenizer training in every pretraining pipeline).
    *
    * Shape: the merge table is metadata (10 rows) embedded as literals,
    * and the whole encode is ONE pure projection — per word, build the
    * anchored symbol string and apply the merges as a nested chain of
    * literal `replace`s inside a `transform` lambda, then count symbols
    * via pipe-counting and total them with `aggregate`. No explode, no
    * join, no groupBy: at 100 TB this is a scan-bound embarrassingly
    * parallel pass (the centroid-literal pattern applied to tokenization),
    * and the only exchange is the presentation sort.
    *
    * Same single left-to-right non-overlapping replace semantics as
    * training (so DuckDB `replace` replays it exactly); the spec
    * cross-checks a list-walk tokenizer.
    */
  /** Per-document BPE token count over `text`, with the merge table
    * embedded as literals — a pure projection column, shared by the
    * encode query and the tokenizer-aware packing composition
    * ([[PackingOps.nsPackBpe]]).
    */
  private[graft] def bpeTokenCountCol(
      merges: Seq[(Long, String, String, String, Long)]): Column = {
    def encoded(w: Column): Column = merges.foldLeft(
      concat(lit("|"), regexp_replace(w, "(.)", "$1|")): Column) {
      case (s, (_, l, r, _, _)) => replace(s, lit(s"|$l|$r|"), lit(s"|$l$r|"))
    }
    val words = filter(split(lower(col("text")), " "), w => w =!= "")
    aggregate(
      transform(words, w => {
        val s = encoded(w)
        length(s).cast("long") - length(replace(s, lit("|"))).cast("long") - lit(1L)
      }),
      lit(0L), (acc, x) => acc + x)
  }

  def nsTextBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val merges = trainBpeMerges(spark, dir)
    val words = filter(split(lower(col("text")), " "), w => w =!= "")
    val sumLong = (arr: Column) => aggregate(arr, lit(0L), (acc, x) => acc + x)
    // Size-shaped ordered projection (round-15): the BPE encode is the
    // heaviest per-row projection in the text family.
    graft.ops.Spread.projectOrdered(
      Tables.documents(spark, dir).select("doc_id", "text"), "doc_id") {
      _.select(
        col("doc_id"),
        size(words).cast("long").as("n_words"),
        bpeTokenCountCol(merges).as("n_bpe_tokens"),
        sumLong(transform(words, w => length(w).cast("long"))).as("n_chars"))
        .withColumn("chars_per_token",
          round(col("n_chars").cast("double") / col("n_bpe_tokens"), 6))
    }
  }

  // ---- Unigram-LM (SentencePiece-style) tokenizer -------------------------

  private[operators] val UniMaxPiece = 6
  private[operators] val UniTopMulti = 256
  private[operators] val UniMinFreq = 2L
  private[graft] val UniMaxWord = 20

  /** The vocabulary of the unigram tokenizer: every corpus CHARACTER
    * (coverage guarantee — any word stays segmentable) plus the top
    * [[UniTopMulti]] multi-character substrings (length 2..[[UniMaxPiece]])
    * by frequency-weighted occurrence count, REFINED by [[UniEmRounds]]
    * hard-EM round(s): Viterbi-segment the corpus words under the current
    * model (E-step, [[viterbiStates]]/[[viterbiPieces]] — the encoder's
    * own DP with backpointers), re-score every piece by its
    * frequency-weighted usage in the maximum-likelihood paths, and PRUNE
    * multi-char candidates no best path uses (M-step) — the SentencePiece
    * fit loop in its Viterbi-EM form. (piece, score, logp_u), best-first,
    * where score after round 1 is the EM usage count.
    *
    * Bounds mirror the BPE-train discipline: the single-char side is
    * alphabet-bounded by definition; the multi-char candidate table is
    * floored at word frequency >= [[UniMinFreq]] BEFORE scoring (on web
    * text the unfloored substring table is corpus-scale) and capped at
    * [[UniTopMulti]] before the collect, so the driver holds
    * <= |alphabet| + 256 rows on ANY corpus. logp quantizes the
    * probability to micro-units BEFORE the ln (the DSIR recipe), so both
    * engines ln() the same dyadic rational. The micro-unit scale-up
    * (score·1e6) needs DECIMAL headroom past ~2^43 total occurrences —
    * noted, like DSIR's, as the documented fixed-point bound.
    *
    * FLOAT-PARITY BOUND (explicit, like the DSIR note): neither engine's
    * ln() is guaranteed correctly rounded, and Math.round rounds negative
    * halves toward +inf while DuckDB round() rounds half away from zero —
    * so parity needs every ln(q/1e6)·1e6 to sit AWAY from a .5 boundary.
    * There are only 1e6 possible quantized inputs q, and an exhaustive
    * scan (UnigramLogpParitySpec, re-run every build) shows the minimum
    * distance to any half-boundary is 1.31e-6 micro-units (at q=380004)
    * — about 10^4 double ulps at this magnitude. No half-case is ever
    * exercised, and any ln within thousands of ulps of correct lands on
    * the same integer; the spec turns the bound from a claim into a
    * regression-checked fact.
    */
  private[operators] def unigramVocab(
      spark: SparkSession, dir: String): Array[(String, Long, Long)] =
    unigramVocabFrom(Tables.documents(spark, dir))

  /** The fit loop over an explicit documents frame (`soft = false` runs
    * the superseded hard-EM round — kept as the divergence witness
    * SoftEmSpec compares against).
    */
  private[operators] def unigramVocabFrom(
      docs: DataFrame, soft: Boolean = true): Array[(String, Long, Long)] = {
    val wf = docs
      .select(explode(split(lower(col("text")), " ")).as("wd"))
      .where(col("wd") =!= "")
      .groupBy("wd").agg(count(lit(1)).as("freq"))
      .cache() // read by the seed fit AND every EM round's E-step
    val pos = wf
      .withColumn("i", explode(sequence(lit(1), length(col("wd")))))
      .withColumn("l", explode(sequence(lit(1),
        least(lit(UniMaxPiece), length(col("wd")) - col("i") + 1))))
      .select(col("wd").substr(col("i"), col("l")).as("piece"),
        col("freq"), col("l"))
    val chars = pos.where(col("l") === 1)
      .groupBy("piece").agg(sum("freq").as("score"))
    val multi = pos.where(col("l") >= 2 && col("freq") >= UniMinFreq)
      .groupBy("piece").agg(sum("freq").as("score"))
      .orderBy(desc("score"), col("piece")).limit(UniTopMulti)
    val seed = rescoreVocab(chars.unionByName(multi)
      .collect().map(r => (r.getString(0), r.getLong(1))))
    val out = (1 to UniEmRounds).foldLeft(seed) { (vocab, _) =>
      val usage = if (soft) emUsageSoft(wf, vocab) else emUsage(wf, vocab)
      // M-step: survivors re-score by usage; single chars always survive
      // (the coverage guarantee every round — any word stays segmentable
      // under the pruned vocab), multi-char candidates with zero
      // (expected) usage are PRUNED — under soft-EM that means NO
      // segmentation gives them posterior mass ≥ 0.5 micro-units.
      rescoreVocab(vocab.collect {
        case (p, _, _) if p.length == 1 || usage.getOrElse(p, 0L) > 0L =>
          (p, usage.getOrElse(p, 0L))
      })
    }
    wf.unpersist()
    out
  }

  /** EM rounds over the seed vocabulary: 1 SOFT-EM (forward-backward)
    * re-score/prune pass — the full SentencePiece fit-loop semantics
    * (expected piece counts over ALL segmentations, not just the
    * maximum-likelihood path), in engine-exact fixed-point form.
    */
  private[operators] val UniEmRounds = 1

  /** (piece, rawScore) -> (piece, score, logp_u) best-first: micro-unit
    * quantize then ln (the vocab0 recipe — same float-parity bound).
    */
  private def rescoreVocab(rows: Array[(String, Long)]): Array[(String, Long, Long)] = {
    val total = rows.map(_._2).sum
    rows.map { case (p, s) =>
      val q = math.max(s * 1000000L / total, 1L)
      (p, s, Math.round(Math.log(q / 1e6) * 1e6))
    }.sortBy { case (p, s, _) => (-s, p) }
  }

  /** The E-STEP: Viterbi-segment every encodable DISTINCT word under the
    * current vocabulary (the same DP as the encoder, extended with
    * BACKPOINTERS), walk each word's maximum-likelihood path back to its
    * pieces, and aggregate frequency-weighted piece usage. Runs
    * distributed over the distinct-word table like the encoder; the
    * collected result is <= |vocab| rows BY CONSTRUCTION (only vocabulary
    * pieces can appear in a path), the same driver bound as the vocab
    * collect itself. Words longer than [[UniMaxWord]] don't vote — the
    * encoder skips them too, so usage reflects exactly the tokens the
    * model will serve.
    */
  private[operators] def emUsage(
      wf: DataFrame, vocab: Array[(String, Long, Long)]): Map[String, Long] = {
    val vmap = typedLit(vocab.map(v => v._1 -> v._3).toMap)
    wf.where(length(col("wd")) <= UniMaxWord)
      .select(col("freq"), explode(
        viterbiPieces(col("wd"), viterbiStates(col("wd"), vmap))).as("piece"))
      .groupBy("piece").agg(sum("freq").as("usage"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  // ---- Soft-EM: forward-backward expected counts ---------------------------

  /** Cutoff beyond which the quantized LSE correction / posterior weight
    * rounds to EXACTLY 0 in both engines (ln(1+e^-15)·1e6 ≈ 0.3 and
    * e^-15·1e6 ≈ 0.3, both under the 0.5 rounding threshold with huge
    * margin), so the branch decides on the INTEGER argument and no float
    * is evaluated at all past it.
    */
  private[operators] val LseCutU = 15000000L

  /** log-sum-exp of two micro-unit log values, RE-QUANTIZED to integer
    * micro-units: max + round(ln(1 + exp(-δ/1e6))·1e6) where δ is the
    * integer gap — the correction is a function of δ alone, so (exactly
    * like the vocab logp) parity needs every one of the [[LseCutU]]
    * possible outputs to sit away from a .5 boundary;
    * UnigramLogpParitySpec scans ALL of them every build. Because each
    * pairwise LSE re-quantizes to an integer, the left-associated fold
    * order (ascending split position) makes the whole forward/backward
    * pass engine-exact given per-op parity.
    */
  private def lseCol(a: Column, b: Column): Column = {
    val hi = greatest(a, b)
    val d = hi - least(a, b)
    hi + when(d >= LseCutU, lit(0L)).otherwise(
      round(log(lit(1.0) + exp((-d).cast("double") / 1e6)) * 1e6, 0).cast("long"))
  }

  /** Quantized posterior weight: round(exp(t/1e6)·1e6) for a (clamped
    * non-positive) micro-unit log-posterior t — 0 past the cutoff. Same
    * scanned-parity contract as [[lseCol]].
    */
  private def postWeightU(t0: Column): Column = {
    val t = least(lit(0L), t0)
    when(t <= -LseCutU, lit(0L)).otherwise(
      round(exp(t.cast("double") / 1e6) * 1e6, 0).cast("long"))
  }

  /** FORWARD log-mass per split position as a pure Catalyst fold:
    * a(0) = 0; a(i) = LSE over valid splits j (ascending, the last
    * [[UniMaxPiece]] positions) of a(j) + logp(piece j..i). Returns the
    * (n+1)-element array.
    */
  private def forwardLogs(word: Column, vmap: Column): Column =
    aggregate(
      sequence(lit(1), length(word)),
      array(lit(0L)),
      (acc, i) => concat(acc, array(
        aggregate(
          sequence(greatest(i - lit(UniMaxPiece), lit(0)), i - lit(1)),
          lit(null).cast("long"),
          (b, j) => {
            val lp = element_at(vmap, word.substr(j + lit(1), i - j))
            val term = element_at(acc, (j + lit(1)).cast("int")) + lp
            // Guard on the WHOLE term, not just lp: a(j) is null when
            // position j is unreachable (possible under a char-incomplete
            // vocab), and lseCol must never see a null side — Spark's
            // greatest/least SKIP nulls, so lseCol(b, null) would return
            // b + ln(2) (silent mass inflation) instead of b.
            when(term.isNull, b)
              .otherwise(when(b.isNull, term).otherwise(lseCol(b, term)))
          }))))

  /** BACKWARD log-mass: b(n) = 0; b(j) = LSE over piece lengths l
    * (ascending) of logp(piece j..j+l) + b(j+l). Built right-to-left by
    * PREPENDING, so element_at(result, j+1) = b(j).
    */
  private def backwardLogs(word: Column, vmap: Column): Column =
    aggregate(
      sequence(lit(1), length(word)),
      array(lit(0L)),
      (acc, o) => {
        val j = length(word) - o
        val bj = aggregate(
          sequence(lit(1), least(lit(UniMaxPiece), o)),
          lit(null).cast("long"),
          (b, l) => {
            val lp = element_at(vmap, word.substr(j + lit(1), l))
            val term = lp + element_at(acc, l.cast("int"))
            // Same whole-term null guard as the forward fold: b(j+l) can
            // be null under a char-incomplete vocab, and lseCol must not
            // see a null side (greatest/least skip nulls — silent +ln(2)).
            when(term.isNull, b)
              .otherwise(when(b.isNull, term).otherwise(lseCol(b, term)))
          })
        concat(array(bj), acc)
      })

  /** The SOFT E-STEP — forward-backward expected piece counts over ALL
    * segmentations (real SentencePiece semantics; the hard-EM
    * [[emUsage]] counts only the maximum-likelihood path): per distinct
    * word, every in-vocabulary occurrence (j, l) gets posterior mass
    * exp(a(j) + logp + b(j+l) − a(n)), quantized to micro-units
    * ([[postWeightU]]) so the frequency-weighted sum is an ORDER-FREE
    * integer aggregation — no float ever crosses a shuffle. Usage is
    * therefore in freq·micro-units; [[rescoreVocab]] normalizes scale
    * away. Collected result ≤ |vocab| rows by construction.
    */
  private[operators] def emUsageSoft(
      wf: DataFrame, vocab: Array[(String, Long, Long)]): Map[String, Long] = {
    val vmap = typedLit(vocab.map(v => v._1 -> v._3).toMap)
    wf.where(length(col("wd")) <= UniMaxWord)
      .select(col("wd"), col("freq"),
        forwardLogs(col("wd"), vmap).as("fa"),
        backwardLogs(col("wd"), vmap).as("fb"))
      .select(col("wd"), col("freq"), col("fa"), col("fb"),
        explode(expr(s"""flatten(transform(sequence(0, length(wd) - 1),
          j -> transform(sequence(1, least($UniMaxPiece, length(wd) - j)),
          l -> struct(j AS j, l AS l))))""")).as("jl"))
      .select(col("freq"),
        col("wd").substr(col("jl.j") + 1, col("jl.l")).as("piece"),
        (element_at(col("fa"), (col("jl.j") + 1).cast("int"))
          + element_at(vmap, col("wd").substr(col("jl.j") + 1, col("jl.l")))
          + element_at(col("fb"), (col("jl.j") + col("jl.l") + 1).cast("int"))
          - element_at(col("fa"), (length(col("wd")) + 1).cast("int"))).as("t0"))
      .where(col("t0").isNotNull) // occurrence not in vocab -> no vote
      .select(col("piece"), (col("freq") * postWeightU(col("t0"))).as("wu"))
      .where(col("wu") > 0)
      .groupBy("piece").agg(sum("wu").as("usage"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** The Viterbi DP as a pure Catalyst fold with BACKPOINTERS: position i
    * (1-based) stores (dp micro-unit logp, pc piece count, back = chosen
    * split point), argmax over the last [[UniMaxPiece]] splits with the
    * longest-final-piece tie-break (strict >, ascending j — identical to
    * the encoder's DP and the oracle's dp DESC, pos ASC rank).
    */
  private def viterbiStates(word: Column, vmap: Column): Column = {
    def bestStep(acc: Column, i: Column): Column =
      aggregate(
        sequence(greatest(i - lit(UniMaxPiece), lit(0)), i - lit(1)),
        struct(lit(Long.MinValue).as("dp"), lit(0L).as("pc"), lit(-1).as("back")),
        (b, j) => {
          val lp = element_at(vmap, word.substr(j + lit(1), i - j))
          val prev = element_at(acc, (j + lit(1)).cast("int"))
          val cand = prev.getField("dp") + lp
          when(lp.isNotNull && cand > b.getField("dp"),
            struct(cand.as("dp"), (prev.getField("pc") + lit(1L)).as("pc"),
              j.cast("int").as("back")))
            .otherwise(b)
        })
    aggregate(
      sequence(lit(1), length(word)),
      array(struct(lit(0L).as("dp"), lit(0L).as("pc"), lit(0).as("back"))),
      (acc, i) => concat(acc, array(bestStep(acc, i))))
  }

  /** Backtrace over [[viterbiStates]]' result: walk i = len(word) ->
    * back(i) -> ... -> 0 (at most [[UniMaxWord]] hops, a bounded fold)
    * collecting the best path's pieces.
    */
  private def viterbiPieces(word: Column, states: Column): Column =
    aggregate(
      sequence(lit(1), lit(UniMaxWord)),
      struct(length(word).as("i"), typedLit(Seq.empty[String]).as("ps")),
      (st, _) => {
        val i = st.getField("i")
        val s = element_at(states, i + lit(1))
        when(i > 0,
          struct(s.getField("back").as("i"),
            concat(st.getField("ps"),
              array(word.substr(s.getField("back") + lit(1), i - s.getField("back"))))
              .as("ps")))
          .otherwise(st)
      }).getField("ps")

  /** Unigram tokenizer TRAINING table — the second tokenizer family next
    * to BPE: (rank, piece, score, logp_u), the model a Viterbi encoder
    * consumes, now fit with the full loop: seed frequency pass +
    * [[UniEmRounds]] Viterbi-EM re-score/prune round(s) over the bounded
    * candidate table (closing the round-6 "one frequency pass" gap). The
    * remaining simplification vs SentencePiece is hard-EM (best-path
    * counts) instead of forward-backward expected counts — the
    * documented Viterbi-EM variant, chosen because the max-likelihood
    * path is exactly replayable as integer SQL while posterior sums are
    * float-order-sensitive.
    */
  def nsTextUnigramTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    unigramVocab(spark, dir).zipWithIndex
      .map { case ((p, s, lp), i) => (i + 1L, p, s, lp) }.toSeq
      .toDF("rank", "piece", "score", "logp_u")
      .orderBy("rank")
  }

  /** Viterbi-encode the corpus under the trained unigram model: per
    * document, the word count, total piece count and total log-prob of
    * the MAXIMUM-likelihood segmentation (ties broken toward the longest
    * final piece — smallest split point — so the piece count is
    * deterministic too).
    *
    * The DP runs ONCE PER DISTINCT WORD (the BPE-train trick): an
    * in-row `aggregate` over positions with a nested argmax over the
    * [[UniMaxPiece]] split points, the vocabulary riding as a ~300-entry
    * map literal — interpreted lambdas, but confined to the vocab-scale
    * distinct-word table, never the corpus scan; per-doc totals then
    * join the encoded words back on the word key. Integer dp values
    * (micro-unit logp sums) make the argmax engine-exact; the oracle
    * replays the DP as [[UniMaxWord]] chained CTEs over the same vocab.
    */
  def nsTextUnigramEncode(spark: SparkSession, dir: String): DataFrame = {
    val vocab = unigramVocab(spark, dir)
    val vmap = typedLit(vocab.map(v => v._1 -> v._3).toMap)
    val wf = Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), " ")).as("wd"))
      .where(col("wd") =!= "" && length(col("wd")) <= UniMaxWord)
    // NOT spread (round-15 measured-negative): the distinct-word table is
    // vocab-scale (~hundreds of rows at any corpus size — UniMaxWord-capped
    // words over a bounded alphabet), so a scan-parallelism floor here
    // buys nothing and the extra exchange + eager re-planning cost a
    // consistent +0.6-0.7 s at sf0.1 (1.48 → 2.15 s back-to-back min-of-3).
    val words = wf.distinct()
    // The SAME DP the EM E-step uses ([[viterbiStates]]) — one definition
    // of the fold, tie-break and argmax for fit and serve; the encoder
    // reads the final position's (dp, pc) and ignores the backpointer.
    val enc = words.select(col("wd"),
      element_at(viterbiStates(col("wd"), vmap),
        (length(col("wd")) + 1).cast("int")).as("fin"))
      .select(col("wd"), col("fin").getField("dp").as("w_logp_u"),
        col("fin").getField("pc").as("w_pieces"))
    val occ = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("wd"))
      .where(col("wd") =!= "" && length(col("wd")) <= UniMaxWord)
    occ.join(enc, "wd")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("w_pieces").as("n_pieces"),
        sum("w_logp_u").as("logp_u"))
      .orderBy("doc_id")
  }

  /** Seed-vocabulary CTE chain ending in `v(piece, score, logp_u, rank)`
    * — the pre-EM fit. Mirrors [[unigramVocab]]'s seed pass exactly: char
    * pieces from the full word table, multi-char pieces floored+capped,
    * quantize-then-ln logp.
    */
  private def unigramVocabCtes: String =
    s"""wf AS MATERIALIZED (
       |  SELECT wd, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS wd
       |    FROM documents) GROUP BY wd),
       |p1 AS (
       |  SELECT wd, freq, CAST(i AS INT) AS i
       |  FROM wf, unnest(range(1, len(wd) + 1)) AS t(i)),
       |pos AS (
       |  SELECT wd, freq, i, CAST(l AS INT) AS l,
       |         substr(wd, i, CAST(l AS INT)) AS piece
       |  FROM p1, unnest(range(1, LEAST($UniMaxPiece, len(wd) - i + 1) + 1)) AS u(l)),
       |chars AS (
       |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS score
       |  FROM pos WHERE l = 1 GROUP BY piece),
       |multi AS (
       |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS score
       |  FROM pos WHERE l >= 2 AND freq >= $UniMinFreq GROUP BY piece
       |  ORDER BY score DESC, piece LIMIT $UniTopMulti),
       |vocab0 AS (
       |  SELECT piece, score FROM chars UNION ALL SELECT piece, score FROM multi),
       |tot AS (SELECT CAST(SUM(score) AS BIGINT) AS total FROM vocab0),
       |v AS MATERIALIZED (
       |  SELECT piece, score,
       |         CAST(round(ln(CAST(GREATEST((score * 1000000) // total, 1) AS DOUBLE) / 1000000.0) * 1000000, 0) AS BIGINT) AS logp_u,
       |         CAST(row_number() OVER (ORDER BY score DESC, piece) AS BIGINT) AS rank
       |  FROM vocab0 CROSS JOIN tot)""".stripMargin

  /** Viterbi DP replay over vocabulary CTE `vocab`, chain prefix
    * `$p0..$p$UniMaxWord` + `${p}all`: each position takes the argmax
    * over the last [[UniMaxPiece]] split points (dp DESC, split ASC —
    * the same longest-final-piece tie-break as the Spark lambda) and
    * RECORDS the chosen split as `back`, so the EM E-step can walk the
    * best path. Words come from the shared `w` CTE.
    */
  private def viterbiDpCtes(p: String, vocab: String): String = {
    val dCtes = (1 to UniMaxWord).map { i =>
      val lo = math.max(0, i - UniMaxPiece)
      val prev = (lo until i).map(j => s"SELECT * FROM $p$j").mkString(" UNION ALL ")
      s"""$p$i AS MATERIALIZED (
         |  SELECT wd, $i AS pos, dp_u, pc, back FROM (
         |    SELECT q.wd, q.dp_u + vv.logp_u AS dp_u, q.pc + 1 AS pc, q.pos AS back,
         |           row_number() OVER (PARTITION BY q.wd
         |             ORDER BY q.dp_u + vv.logp_u DESC, q.pos ASC) AS rn
         |    FROM ($prev) q
         |    JOIN w ON w.wd = q.wd AND w.n >= $i
         |    JOIN $vocab vv ON vv.piece = substr(q.wd, q.pos + 1, $i - q.pos)
         |  ) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val dall = (1 to UniMaxWord).map(i => s"SELECT * FROM $p$i").mkString(" UNION ALL ")
    s"""${p}0 AS MATERIALIZED (SELECT wd, 0 AS pos, CAST(0 AS BIGINT) AS dp_u, CAST(0 AS BIGINT) AS pc, 0 AS back FROM w),
       |$dCtes,
       |${p}all AS ($dall)""".stripMargin
  }

  /** The micro-unit LSE fold over an ordered term list — the SQL twin of
    * [[lseCol]] applied left-associated (list_reduce seeds with the
    * first element, matching the Spark fold's null-seeded start).
    */
  private def lseSql(listExpr: String): String =
    s"list_reduce($listExpr, (acc, x) -> greatest(acc, x) + " +
      s"CASE WHEN greatest(acc, x) - least(acc, x) >= $LseCutU THEN 0 " +
      "ELSE CAST(round(ln(1 + exp(-CAST(greatest(acc, x) - least(acc, x) AS DOUBLE) " +
      "/ 1000000.0)) * 1000000, 0) AS BIGINT) END)"

  /** The SOFT-EM round as CTEs — the SQL replay of
    * [[forwardLogs]]/[[backwardLogs]]/[[emUsageSoft]]: a forward chain
    * (`fa0..faN`, one CTE per split position, terms list-reduced with
    * [[lseSql]] in ascending-split order), a backward chain (`fb0..fbN`,
    * one CTE per distance-from-end), the per-occurrence posterior weight
    * (clamped, quantized, zero past the cutoff), and the rebuilt
    * vocabulary: chars always survive, multi-char pieces with zero
    * expected usage are pruned, survivors re-score with the same
    * quantize-then-ln logp. Ends in `v1(piece, score, logp_u, rank)`.
    */
  private def unigramEmCtes: String = {
    val faCtes = (1 to UniMaxWord).map { i =>
      val lo = math.max(0, i - UniMaxPiece)
      val prev = (lo until i).map(j => s"SELECT * FROM fa$j").mkString(" UNION ALL ")
      s"""fa$i AS MATERIALIZED (
         |  SELECT wd, $i AS pos, ${lseSql("list(term ORDER BY j)")} AS a
         |  FROM (
         |    SELECT q.wd, q.pos AS j, q.a + vv.logp_u AS term
         |    FROM ($prev) q
         |    JOIN w ON w.wd = q.wd AND w.n >= $i
         |    JOIN v vv ON vv.piece = substr(q.wd, q.pos + 1, $i - q.pos))
         |  GROUP BY wd)""".stripMargin
    }.mkString(",\n")
    val faall = (0 to UniMaxWord).map(i => s"SELECT * FROM fa$i").mkString(" UNION ALL ")
    val fbCtes = (1 to UniMaxWord).map { o =>
      val arms = (1 to math.min(UniMaxPiece, o)).map { l =>
        s"""    SELECT w.wd, w.n - $o AS pos, $l AS l, vv.logp_u + p.b AS term
           |    FROM w JOIN fb${o - l} p ON p.wd = w.wd AND p.pos = w.n - $o + $l
           |    JOIN v vv ON vv.piece = substr(w.wd, w.n - $o + 1, $l)
           |    WHERE w.n >= $o""".stripMargin
      }.mkString("\n    UNION ALL\n")
      s"""fb$o AS MATERIALIZED (
         |  SELECT wd, pos, ${lseSql("list(term ORDER BY l)")} AS b
         |  FROM (
         |$arms)
         |  GROUP BY wd, pos)""".stripMargin
    }.mkString(",\n")
    val fball = (0 to UniMaxWord).map(o => s"SELECT * FROM fb$o").mkString(" UNION ALL ")
    s"""$unigramVocabCtes,
       |w AS MATERIALIZED (SELECT wd, CAST(len(wd) AS INT) AS n FROM wf WHERE len(wd) <= $UniMaxWord),
       |fa0 AS (SELECT wd, 0 AS pos, CAST(0 AS BIGINT) AS a FROM w),
       |$faCtes,
       |faall AS MATERIALIZED ($faall),
       |fb0 AS (SELECT wd, n AS pos, CAST(0 AS BIGINT) AS b FROM w),
       |$fbCtes,
       |fball AS MATERIALIZED ($fball),
       |sj0 AS (
       |  SELECT w.wd, wf.freq, w.n, CAST(j AS INT) AS j
       |  FROM w JOIN wf USING (wd),
       |       unnest(range(0, CAST(w.n AS BIGINT))) AS tj(j)),
       |sjl AS (
       |  SELECT wd, freq, n, j, CAST(l AS INT) AS l
       |  FROM sj0, unnest(range(1, LEAST($UniMaxPiece, n - j) + 1)) AS tl(l)),
       |post0 AS (
       |  SELECT substr(s.wd, s.j + 1, s.l) AS piece, s.freq,
       |         LEAST(0, fj.a + vv.logp_u + fk.b - fn.a) AS t
       |  FROM sjl s
       |  JOIN v vv ON vv.piece = substr(s.wd, s.j + 1, s.l)
       |  JOIN faall fj ON fj.wd = s.wd AND fj.pos = s.j
       |  JOIN fball fk ON fk.wd = s.wd AND fk.pos = s.j + s.l
       |  JOIN faall fn ON fn.wd = s.wd AND fn.pos = s.n),
       |pu AS (
       |  SELECT piece,
       |         CAST(SUM(freq * CASE WHEN t <= -$LseCutU THEN 0
       |              ELSE CAST(round(exp(CAST(t AS DOUBLE) / 1000000.0) * 1000000, 0) AS BIGINT)
       |              END) AS BIGINT) AS u
       |  FROM post0 GROUP BY piece),
       |vocab1 AS (
       |  SELECT v.piece, CAST(COALESCE(u.u, 0) AS BIGINT) AS score
       |  FROM v LEFT JOIN pu u USING (piece)
       |  WHERE len(v.piece) = 1 OR COALESCE(u.u, 0) > 0),
       |tot1 AS (SELECT CAST(SUM(score) AS BIGINT) AS total FROM vocab1),
       |v1 AS MATERIALIZED (
       |  SELECT piece, score,
       |         CAST(round(ln(CAST(GREATEST((score * 1000000) // total, 1) AS DOUBLE) / 1000000.0) * 1000000, 0) AS BIGINT) AS logp_u,
       |         CAST(row_number() OVER (ORDER BY score DESC, piece) AS BIGINT) AS rank
       |  FROM vocab1 CROSS JOIN tot1)""".stripMargin
  }

  /** Encode replay: the EM CTE chain fits `v1`, then a SECOND DP chain
    * (prefix `f`) Viterbi-encodes every word under the EM'd model —
    * exactly the serve path the Spark side runs.
    */
  private def unigramEncodeOracle: String =
    s"""WITH $unigramEmCtes,
       |${viterbiDpCtes("f", "v1")},
       |enc AS (
       |  SELECT w.wd, d.dp_u, d.pc FROM w
       |  JOIN fall d ON d.wd = w.wd AND d.pos = w.n),
       |occ AS (
       |  SELECT doc_id, wd FROM (
       |    SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS wd
       |    FROM documents)
       |  WHERE len(wd) <= $UniMaxWord)
       |SELECT occ.doc_id,
       |       CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(SUM(e.pc) AS BIGINT) AS n_pieces,
       |       CAST(SUM(e.dp_u) AS BIGINT) AS logp_u
       |FROM occ JOIN enc e USING (wd)
       |GROUP BY occ.doc_id ORDER BY occ.doc_id""".stripMargin

  // ---- Hashed linear quality classifier -----------------------------------

  private[operators] val ClsBuckets = 64
  // -0.20 in micro-units: centers the decision boundary on the fixture
  // vocabulary's mean per-word weight (~+0.197), so `keep` splits the
  // corpus rather than rubber-stamping it.
  private val ClsBiasU = -200000L

  /** Deterministic per-bucket weights in integer MICRO-UNITS (~U[-1, 1]),
    * fixed LCG — the trained-model stand-in, embedded as literals in both
    * engines (the centroid-literal pattern).
    */
  private[operators] val clsWeightsU: Array[Long] = {
    var state = 0x9e3779b97f4a7c15L
    Array.fill(ClsBuckets) {
      state = state * 6364136223846793005L + 1442695040888963407L
      (state >>> 20) % 2000001L - 1000000L
    }
  }

  /** Fasttext-shaped quality classifier: each word hashes (the SAME
    * Rabin-Karp polynomial as the rollhash/spans families) into one of
    * [[ClsBuckets]] buckets, the document's logit is the mean of its
    * words' bucket weights plus a bias, and `keep` is the sign — the
    * model-based quality-filter pass every pretraining pipeline runs
    * after the heuristic filters.
    *
    * Shape: a PURE PROJECTION — the per-word hash and weight lookup are
    * nested higher-order functions over the split array, weights are
    * metadata-scale literals (like the IVF centroids), and the
    * accumulation is integer micro-units, so there is no explode, no
    * join, and no aggregation: at 100 TB this is one scan-bound,
    * embarrassingly parallel pass whose only exchange is the
    * presentation sort. `keep` compares the EXACT integer sum
    * (sum_u + n·bias_u > 0 ⇔ mean + bias > 0 — no float near the
    * decision boundary); the reported logit is one IEEE divide +
    * round(6).
    */
  def nsTextClassify(spark: SparkSession, dir: String): DataFrame = {
    val weights = clsWeightsU.mkString("array(", "L, ", "L)")
    val wordHash = "aggregate(transform(split(w, ''), c -> CAST(ascii(c) AS BIGINT))," +
      " CAST(0 AS BIGINT), (acc, c) -> (acc * $RB + c) % $RM)"
        .replace("$RB", RollBase.toString).replace("$RM", RollMod.toString)
    // Size-shaped ordered projection (round-15): per-word Rabin-Karp
    // hashing is a heavy per-row HOF stack.
    graft.ops.Spread.projectOrdered(
      Tables.documents(spark, dir).select("doc_id", "text"), "doc_id") {
      _.withColumn("n_tokens",
        size(split(lower(col("text")), " ")).cast("long"))
        .withColumn("z_u",
          expr(s"""aggregate(transform(split(lower(text), ' '),
                w -> element_at($weights, CAST($wordHash % $ClsBuckets AS INT) + 1)),
              CAST(0 AS BIGINT), (acc, x) -> acc + x)""")
            + col("n_tokens") * ClsBiasU)
        .select(
          col("doc_id"),
          col("n_tokens"),
          // Integer-floor the per-token micro-unit mean BEFORE the one IEEE
          // divide (the boundary-free discipline): z_u / (n_tokens·1e6) as a
          // double can land on a .5×1e-6 midpoint where the engines' round()
          // tie-breaks diverge (measured: 8 rows at the 10× sf1 sweep).
          expr("round(CAST(z_u div n_tokens AS DOUBLE) / 1000000.0, 6)")
            .as("logit"),
          (col("z_u") > 0L).as("keep"))
    }
  }

  // ---- TRAINED hashed classifier (integer GD distilling the Gopher gate) --

  private[operators] val ClsIters = 6
  private[operators] val ClsLrNum = 1L

  /** Binned one-hot STAT features alongside the hashed words: each
    * Gopher profile statistic maps to a one-hot bucket (`least(stat
    * OP k, cap)`), because a LINEAR model over raw stats cannot express
    * the rule battery's two-sided bands (20 <= n_words <= 90) while
    * one-hot bins make any step function of a stat learnable — the
    * standard trick a fastText-grade quality classifier pairs with its
    * hashed n-grams. Templates hold `OP` for the engine's integer
    * division (all operands nonnegative, so Spark `DIV` truncation and
    * DuckDB `//` flooring agree); widths fix each bin block's offset.
    */
  private val ClsBins: Seq[(String, Int)] = Seq(
    ("least(n_words OP 10, 12)", 13),
    ("least(mwl_u OP 1000000, 11)", 12),
    ("least(n_stop_distinct, 4)", 5),
    ("least(sym_u OP 50000, 4)", 5),
    ("least(alpha_u OP 100000, 10)", 11),
    ("least(dup3_u OP 15000, 4)", 5))
  private[operators] val ClsDim = ClsBuckets + ClsBins.map(_._2).sum + 1
  private[operators] val ClsBias = ClsDim - 1

  /** The per-doc active bin buckets as ONE generated array/list
    * expression over the profile stat columns (identical names in both
    * engines), plus the bias bucket — `elems` wraps for the engine's
    * array literal syntax.
    */
  private def clsBinBuckets(op: String, open: String, close: String): String = {
    var base = ClsBuckets
    val parts = ClsBins.map { case (tpl, n) =>
      val s = s"($base + (${tpl.replace("OP", op)}))"
      base += n
      s
    } :+ ClsBias.toString
    parts.mkString(open, ", ", close)
  }

  /** Sign-safe integer division (truncation toward zero) as one SQL text
    * per engine: Spark spells integer division `DIV` (which truncates),
    * DuckDB `//` (which FLOORS — identical only for nonnegative
    * operands), so the sign is peeled off explicitly and the division
    * always runs on a nonnegative numerator in BOTH engines. The Scala
    * driver-side update uses `Long./` — also truncation toward zero.
    */
  private def sdivSql(a: String, q: String, op: String): String =
    s"(CASE WHEN ($a) >= 0 THEN ($a) $op ($q) ELSE -((-($a)) $op ($q)) END)"

  /** The word hash shared with [[nsTextClassify]] (same Rabin-Karp
    * polynomial as the rollhash/spans families), over an exploded word
    * column instead of a nested lambda.
    */
  private def clsWordHashOn(c: String): String =
    s"aggregate(transform(split($c, ''), ch -> CAST(ascii(ch) AS BIGINT)), " +
      s"CAST(0 AS BIGINT), (acc, ch) -> (acc * $RollBase + ch) % $RollMod)"

  /** Per-doc classifier inputs, one row per gopher-labeled doc:
    * `(doc_id, y_u, xm)` where `y_u` is the Gopher verdict in micro-units
    * (1e6 pass / 0 fail) and `xm: MAP<INT, BIGINT>` maps each active
    * feature bucket to its value — hashed word buckets at their
    * length-normalized count in micro-units (`(cnt * 1e6) div n_tokens`,
    * so Σ over word buckets ≈ 1e6 regardless of doc length), the
    * [[ClsBins]] one-hot stat buckets and the BIAS bucket [[ClsBias]] at
    * exactly 1e6. The word convention matches [[nsTextClassify]]
    * (unfiltered lowercase whitespace split); the label domain is
    * [[gopherProfile]]'s (zero-word docs excluded).
    */
  private def classifierInputs(docs0: DataFrame): DataFrame = {
    // Both branches run millisecond-per-row projections (the Gopher HOF
    // battery; per-word Rabin-Karp hashing) — spread a narrow input
    // across the cores first or the whole feature build serializes on
    // the scan's task count (one, for a single-row-group fixture file).
    val docs = graft.ops.Spread.forHeavyProjection(docs0)
    val labels = gopherProfile(docs)
      .select(col("doc_id"), when(col("pass"), 1000000L).otherwise(0L).as("y_u"),
        expr(clsBinBuckets("DIV", "array(", ")")).as("bins"))
    val feats = docs
      .withColumn("n", expr("CAST(size(split(lower(text), ' ')) AS BIGINT)"))
      .select(col("doc_id"), col("n"),
        explode(split(lower(col("text")), " ")).as("wd"))
      .withColumn("bucket", expr(s"CAST((${clsWordHashOn("wd")}) % $ClsBuckets AS INT)"))
      .groupBy(col("doc_id"), col("n"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("bucket"), expr("(cnt * 1000000) DIV n").as("xn_u"))
    // ONE join, ONE labels subtree: the bins ride the join row and are
    // appended to the map at assembly time (word buckets are 0..63, bins
    // start at ClsBuckets — disjoint by construction, so map_concat never
    // sees a duplicate key). A first cut unioned a second labels branch
    // (explode(bins)) instead; that branch re-evaluated the Gopher HOF
    // stack per stat reference (~8 s of the 10 s build at sf0.1, vs
    // 0.3 s for the whole profile computed once).
    feats.join(labels, Seq("doc_id"))
      .groupBy("doc_id", "y_u")
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("xn_u")))).as("wm"),
        first(col("bins")).as("bins")) // constant within the group (one labels row per doc)
      .select(col("doc_id"), col("y_u"),
        map_concat(col("wm"), expr(
          "map_from_entries(transform(bins, b -> struct(CAST(b AS INT), CAST(1000000 AS BIGINT))))"))
          .as("xm"))
  }

  /** The document margin under weights `w` (micro-units, index
    * [[ClsBuckets]] = bias): `sdiv(Σ_b w[b] * xm[b], 1e6)` — exact Long
    * arithmetic over the in-row feature map, a pure projection.
    */
  private def clsMarginCol(w: Array[Long]): Column = {
    val wlit = w.mkString("array(", "L, ", "L)")
    expr(sdivSql(
      s"aggregate(map_entries(xm), CAST(0 AS BIGINT), " +
        s"(acc, e) -> acc + element_at($wlit, CAST(e.key AS INT) + 1) * e.value)",
      "1000000", "DIV"))
  }

  /** Elliott fast-sigmoid in micro-units —
    * `p = 1/2 + m / (2 * (1 + |m|))` — the squashing link chosen so the
    * whole training loop is EXACT integer arithmetic: no exp/ln enters
    * any decision, so per-doc error terms are engine-deterministic and
    * the micro-unit gradient sums are order-free across shuffles (the
    * quantize-then-integer-sum discipline of the soft-EM round, with the
    * transcendental eliminated rather than boundary-scanned).
    */
  private def clsProbSql(op: String): String =
    s"(500000 + ${sdivSql("500000 * m_u", "1000000 + abs(m_u)", op)})"

  /** Batch gradient descent distilling the Gopher rule gate into the
    * hashed linear model ([[nsTextClassify]]'s shape, weights LEARNED):
    * [[ClsIters]] full-gradient rounds, error `e = y - p(m)` against the
    * fast-sigmoid link, per-(doc, bucket) contribution
    * `sdiv(e * xm[b], 1e6)` quantized to micro-units BEFORE the sum so
    * the per-bucket reduction is an order-free Long sum, update
    * `w[b] += sdiv(G_b * lr, N)`.
    *
    * Scale shape: the feature build is one explode + two keyed
    * aggregations; each iteration is ONE pass over the cached per-doc
    * rows — margin and error are in-row projections, the only exchange
    * is the 65-key gradient aggregation (map-side combined). Driver
    * state is the 65-entry weight vector (the readLlr pattern). At
    * trillion-doc scale the Long gradient sum holds because each doc
    * contributes at most ±1e6 per bucket.
    */
  /** Row target per cached training partition: each GD round launches
    * one task per partition of the cached feature frame, and the
    * measured per-task fixed cost (~8 ms: task setup + interpreted-HOF
    * tree instantiation) dwarfs the per-row margin work on under-filled
    * partitions — at sf0.1 the 6 rounds over 32 near-empty cached
    * partitions ran 0.50 s each at `local[32]` vs 0.25 s over 1
    * right-sized partition (round-15 probe; the family's 8-core bench
    * beating its 32-core bench was exactly this). 64k rows ≈ tens of MB
    * of feature maps per task — a few hundred ms of margin compute, so
    * task overhead amortizes while corpus-scale training still fans out
    * (1B labeled docs → ~15k partitions).
    */
  private[operators] val TrainRowsPerPartition: Long = 65536L

  private[operators] def trainClassifier(docs: DataFrame): (Array[Long], DataFrame) = {
    val raw = classifierInputs(docs).cache()
    val nRaw = raw.count()
    // Scale-adaptive compaction of the training working set (guide §2:
    // derive partition counts from input size, not the session's shuffle
    // width): the feature build leaves one cached partition per shuffle
    // partition regardless of row count, and the 6 GD rounds + the score
    // pass each re-launch that many tasks. When the frame is far wider
    // than its row count warrants, re-cache it at the derived width (a
    // narrow coalesce pass over the tiny cache) and drop the raw copy;
    // at corpus scale the width is already right and this is a no-op.
    val targetParts = math.max(1L, nRaw / TrainRowsPerPartition)
    val inputs = if (raw.rdd.getNumPartitions > 2 * targetParts) {
      val compact = raw.coalesce(targetParts.toInt).cache()
      compact.count() // materialize before unpinning the source cache
      raw.unpersist()
      compact
    } else raw
    val n = nRaw
    val w = Array.fill(ClsDim)(0L)
    for (_ <- 1 to ClsIters) {
      val grads = inputs
        .withColumn("m_u", clsMarginCol(w))
        .withColumn("e_u", col("y_u") - expr(clsProbSql("DIV")))
        .select(col("e_u"), explode(col("xm")).as(Seq("bucket", "xn_u")))
        .groupBy("bucket")
        .agg(sum(expr(sdivSql("e_u * xn_u", "1000000", "DIV"))).as("g"))
        .collect()
      grads.foreach { r =>
        w(r.getInt(0)) += r.getLong(1) * ClsLrNum / n
      }
    }
    (w, inputs)
  }

  /** The trained model itself: [[ClsDim]] rows of (bucket, weight_u) —
    * hashed word buckets, then the one-hot stat bins, bias last — the
    * learned counterpart of [[clsWeightsU]]'s fixed stand-in; the
    * oracle replays all [[ClsIters]] gradient rounds as CTEs.
    */
  def nsTextClassifyTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (w, inputs) = trainClassifier(Tables.documents(spark, dir))
    inputs.unpersist()
    w.zipWithIndex.map { case (wu, b) => (b.toLong, wu) }.toSeq
      .toDF("bucket", "weight_u").orderBy("bucket")
  }

  /** Train, then score the corpus under the learned weights: the
    * model-based quality filter with its model actually fit to this
    * corpus ([[nsTextClassify]] is the frozen stand-in). `keep` compares
    * the exact integer margin to zero; `label` is the Gopher verdict the
    * model distills, so keep vs label reads as the distillation
    * confusion table.
    */
  def nsTextClassifyTrained(spark: SparkSession, dir: String): DataFrame = {
    val (w, inputs) = trainClassifier(Tables.documents(spark, dir))
    val out = inputs
      .withColumn("m_u", clsMarginCol(w))
      .select(col("doc_id"),
        expr("round(CAST(m_u AS DOUBLE) / 1000000.0, 6)").as("logit"),
        (col("m_u") > 0L).as("keep"),
        (col("y_u") === 1000000L).as("label"))
      .orderBy("doc_id")
      .transform(Steps.pin) // pin before dropping the shared feature cache
    inputs.unpersist()
    out
  }

  /** Model eval — the lifecycle stage a training pipeline never ships
    * without: train, score, and fold the keep-vs-label comparison into
    * the distillation confusion table (tp/fp/fn/tn) plus exact
    * micro-unit accuracy / precision / recall (integer floor division,
    * operands nonnegative so Spark `DIV` and DuckDB `//` agree; zero
    * denominators yield NULL rather than a fabricated 0). One row out —
    * the aggregate is a single count/sum pass over the scored frame, so
    * eval adds one corpus scan to the training cost at any scale.
    */
  def nsTextClassifyEval(spark: SparkSession, dir: String): DataFrame = {
    val (w, inputs) = trainClassifier(Tables.documents(spark, dir))
    val out = inputs
      .withColumn("m_u", clsMarginCol(w))
      .select((col("m_u") > 0L).as("keep"), (col("y_u") === 1000000L).as("label"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep") && col("label"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("keep") && !col("label"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("keep") && col("label"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("keep") && !col("label"), 1L).otherwise(0L)).as("tn"))
      .select(col("n_docs"), col("tp"), col("fp"), col("fn"), col("tn"),
        expr("((tp + tn) * 1000000) DIV n_docs").as("acc_u"),
        expr("CASE WHEN tp + fp > 0 THEN (tp * 1000000) DIV (tp + fp) END").as("prec_u"),
        expr("CASE WHEN tp + fn > 0 THEN (tp * 1000000) DIV (tp + fn) END").as("rec_u"))
      .transform(Steps.pin) // pin before dropping the shared feature cache
    inputs.unpersist()
    out
  }

  /** HELD-OUT model eval — the distillation table's missing honesty
    * check: [[nsTextClassifyEval]] scores the model on its own training
    * corpus, so its metrics conflate fit with memorization. This query
    * splits the corpus by the LEAKAGE-FREE component-atomic rule
    * ([[DedupOps.nsCorpusSplit]] — near-duplicate documents land in the
    * same split, so a memorized train doc can't resurface as its test
    * twin), fits the same [[ClsIters]]-round integer GD on the train
    * split only, and reports the confusion table + exact micro-unit
    * accuracy/precision/recall for BOTH slices side by side — the
    * train/test gap is the generalization story.
    *
    * Scale shape: the split adds the components regime (banded edges +
    * closure) once; training is the [[trainClassifier]] loop over the
    * train slice; scoring is ONE full-corpus feature build + in-row
    * margins + a 2-key aggregate. The oracle replays the closure, the
    * split, all train-slice gradient rounds and both slices' confusion
    * arithmetic as one CTE chain.
    */
  def nsTextClassifyHoldout(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val split = DedupOps.nsCorpusSplit(spark, dir)
      .select("doc_id", "split").transform(Steps.pin)
    val trainIds = split.where(col("split") === "train").select("doc_id")
    val (w, inputs) = trainClassifier(
      docs.join(trainIds, Seq("doc_id"), "left_semi"))
    inputs.unpersist()
    classifierInputs(docs)
      .join(split, Seq("doc_id"))
      .where(col("split").isin("train", "test"))
      .withColumn("m_u", clsMarginCol(w))
      .select(col("split").as("slice"), (col("m_u") > 0L).as("keep"),
        (col("y_u") === 1000000L).as("label"))
      .groupBy("slice")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep") && col("label"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("keep") && !col("label"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("keep") && col("label"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("keep") && !col("label"), 1L).otherwise(0L)).as("tn"))
      .select(col("slice"), col("n_docs"), col("tp"), col("fp"), col("fn"), col("tn"),
        expr("((tp + tn) * 1000000) DIV n_docs").as("acc_u"),
        expr("CASE WHEN tp + fp > 0 THEN (tp * 1000000) DIV (tp + fp) END").as("prec_u"),
        expr("CASE WHEN tp + fn > 0 THEN (tp * 1000000) DIV (tp + fn) END").as("rec_u"))
      .orderBy("slice")
  }

  /** Score a corpus under a FIXED weight vector — the serving half of the
    * trained classifier: one feature build + one in-row margin projection,
    * NO training pass. Output shape (and therefore oracle) identical to
    * [[nsTextClassifyTrained]]; [[graft.operators.IndexOps]] pairs it with
    * the stored model artifact for the build/serve split.
    */
  private[graft] def scoreClassifier(docs: DataFrame, w: Array[Long]): DataFrame =
    classifierInputs(docs)
      .withColumn("m_u", clsMarginCol(w))
      .select(col("doc_id"),
        expr("round(CAST(m_u AS DOUBLE) / 1000000.0, 6)").as("logit"),
        (col("m_u") > 0L).as("keep"),
        (col("y_u") === 1000000L).as("label"))
      .orderBy("doc_id")

  /** The full training replay as a DuckDB CTE chain ending in
    * `w[ClsIters](bucket, wu)` (+`cfeat`/`clab` for scoring consumers) —
    * generated from the SAME constants as the Spark loop (the
    * bpeTrainCtes pattern), every step exact integer arithmetic.
    */
  private def classifierTrainCtes: String =
    classifierTrainCtesOn("SELECT doc_id FROM documents")

  /** The complete trained-classifier oracle (train under `trainSel`
    * membership, score the FULL corpus) as one nestable SQL — the
    * `ns_text_classify_trained` oracle is the `trainSel = every doc`
    * instance, and composed oracles whose frozen classifier was fit on a
    * restricted day-1 population (pipe_crawl_delta) nest it as a
    * subquery with the day-1 predicate.
    */
  private[graft] def classifyTrainedOracleOn(trainSel: String): String =
    s"""WITH ${classifierTrainCtesOn(trainSel)},
       |csc AS (
       |  SELECT f.doc_id, f.y_u,
       |         CAST(${sdivSql("SUM(w.wu * f.xn_u)", "1000000", "//")} AS BIGINT) AS m_u
       |  FROM cfeat f JOIN w$ClsIters w USING (bucket)
       |  GROUP BY f.doc_id, f.y_u)
       |SELECT doc_id, round(CAST(m_u AS DOUBLE) / 1000000.0, 6) AS logit,
       |       m_u > 0 AS keep, y_u = 1000000 AS label
       |FROM csc ORDER BY doc_id""".stripMargin

  /** [[classifierTrainCtes]] with the TRAINING MEMBERSHIP parameterized:
    * `trainSel` selects the doc_ids the gradient rounds see (features
    * `cfeat` still cover the full corpus so scoring consumers can rank
    * held-out docs under the learned weights). The default — every doc —
    * reproduces the original chain; the holdout oracle passes the
    * leakage-free train split.
    */
  private def classifierTrainCtesOn(trainSel: String): String = {
    def sdiv(a: String, q: String) = sdivSql(a, q, "//")
    val wordHash = s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split(wd, ''), ch -> CAST(ascii(ch) AS BIGINT))), " +
      s"(acc, x) -> (acc * $RollBase + x) % $RollMod)"
    val iters = (1 to ClsIters).map { t =>
      s"""m$t AS MATERIALIZED (
         |  SELECT f.doc_id, f.y_u,
         |         CAST(${sdiv("SUM(w.wu * f.xn_u)", "1000000")} AS BIGINT) AS m_u
         |  FROM cfeat f JOIN ctrain USING (doc_id) JOIN w${t - 1} w USING (bucket)
         |  GROUP BY f.doc_id, f.y_u),
         |e$t AS MATERIALIZED (
         |  SELECT doc_id, y_u - ${clsProbSql("//")} AS e_u FROM m$t),
         |g$t AS (
         |  SELECT f.bucket,
         |         CAST(SUM(${sdiv("e.e_u * f.xn_u", "1000000")}) AS BIGINT) AS g
         |  FROM cfeat f JOIN e$t e USING (doc_id) GROUP BY f.bucket),
         |w$t AS MATERIALIZED (
         |  SELECT w.bucket,
         |         w.wu + ${sdiv(s"coalesce(g.g, 0) * $ClsLrNum", "(SELECT n FROM cn)")} AS wu
         |  FROM w${t - 1} w LEFT JOIN g$t g USING (bucket))""".stripMargin
    }.mkString(",\n")
    s"""clab AS MATERIALIZED (
       |  SELECT doc_id, CAST(CASE WHEN pass THEN 1000000 ELSE 0 END AS BIGINT) AS y_u,
       |         ${clsBinBuckets("//", "[", "]")} AS bins
       |  FROM ($gopherOracleSql) gg),
       |cwords AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS wd FROM documents),
       |ccnt AS (
       |  SELECT doc_id, CAST(($wordHash) % $ClsBuckets AS INT) AS bucket,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM cwords GROUP BY 1, 2),
       |cnw AS (
       |  SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n
       |  FROM documents),
       |cfeat AS MATERIALIZED (
       |  SELECT c.doc_id, c.bucket, (c.cnt * 1000000) // d.n AS xn_u, l.y_u
       |  FROM ccnt c JOIN cnw d USING (doc_id) JOIN clab l USING (doc_id)
       |  UNION ALL
       |  SELECT doc_id, CAST(unnest(bins) AS INT) AS bucket,
       |         CAST(1000000 AS BIGINT) AS xn_u, y_u
       |  FROM clab),
       |ctrain AS MATERIALIZED ($trainSel),
       |cn AS (SELECT CAST(count(*) AS BIGINT) AS n
       |       FROM clab JOIN ctrain USING (doc_id)),
       |w0 AS (SELECT CAST(b AS INT) AS bucket, CAST(0 AS BIGINT) AS wu
       |       FROM (SELECT unnest(range($ClsDim)) AS b)),
       |$iters""".stripMargin
  }

  // ---- BM25 lexical retrieval ---------------------------------------------

  private[operators] val BmQueryEvery = 50L
  private val BmQTerms = 12
  private[operators] val BmTopK = 10

  /** The BM25 retrieval oracle as a reusable CTE chain ending in
    * `r(query_id, doc_id, n_common_terms, score, rnk)` — shared by the
    * `ns_text_bm25` / `ns_text_bm25_indexed` oracles and the hybrid-RRF
    * fusion oracle ([[HybridOps]]), so the lexical side of every
    * consumer moves with the same constants.
    */
  private[operators] def bm25OracleCtes: String =
    s"""w AS (
       |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS wd
       |  FROM documents),
       |tf AS (SELECT doc_id, wd, count(*) AS tf FROM w GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dlen FROM tf GROUP BY 1),
       |dfx AS (SELECT wd, count(*) AS df FROM tf GROUP BY 1),
       |st AS (SELECT count(*) AS n_docs, CAST(sum(dlen) AS BIGINT) AS n_toks FROM dl),
       |qt AS (SELECT query_id, wd, df FROM (
       |    SELECT tf.doc_id AS query_id, tf.wd, dfx.df,
       |           row_number() OVER (PARTITION BY tf.doc_id ORDER BY dfx.df, tf.wd) AS qr
       |    FROM tf JOIN dfx USING (wd)
       |    WHERE tf.doc_id % $BmQueryEvery = 0 AND dfx.df >= 2)
       |  WHERE qr <= $BmQTerms),
       |cand AS (
       |  SELECT qt.query_id, tf.doc_id, tf.wd, tf.tf, qt.df, dl.dlen, st.n_docs, st.n_toks
       |  FROM tf JOIN qt USING (wd) JOIN dl USING (doc_id) CROSS JOIN st
       |  WHERE tf.doc_id <> qt.query_id),
       |sc AS (
       |  SELECT query_id, doc_id, count(*) AS n_common_terms,
       |         CAST(sum(CAST(round(($BmTermScore) * 1000000.0, 0) AS BIGINT)) AS BIGINT) AS score_u
       |  FROM cand GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, n_common_terms,
       |        round(CAST(score_u AS DOUBLE) / 1000000.0, 6) AS score,
       |        row_number() OVER
       |        (PARTITION BY query_id ORDER BY score_u DESC, doc_id) AS rnk FROM sc)""".stripMargin

  /** Shared Spark/DuckDB BM25 term-score expression (k1=1.2, b=0.75, the
    * Robertson defaults, with Lucene's `ln(1+odds)` idf so every
    * contribution stays positive). ONE string interpolated into BOTH
    * engines, so the floating-point operation tree is identical on each
    * side (the pqCodeCtes pattern); all inputs (tf, df, dlen, n_docs,
    * n_toks) stay exact Longs until this expression.
    */
  private val BmTermScore =
    "ln(1.0 + ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE)) + 0.5) / (CAST(df AS DOUBLE) + 0.5))" +
      " * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 *" +
      " (0.25 + 0.75 * ((CAST(dlen AS DOUBLE) * CAST(n_docs AS DOUBLE)) / CAST(n_toks AS DOUBLE)))))"

  /** BM25 "more-like-this" lexical retrieval — the inverted-index
    * complement to the ANN family: every 50th document is a query; its
    * [[BmQTerms]] rarest shared terms (df >= 2 — a term unique to the
    * query doc retrieves nothing) retrieve the [[BmTopK]] highest-BM25
    * documents. Rarest-first term selection PLUS a hard df ceiling
    * (WAND-lite, the [[graft.operators.DedupOps]] SpanDfCap pattern) bound
    * the fan-out: each query touches at most 12 posting lists, shortest
    * first, and a stopword-grade list (df > ceiling) is never joined at
    * all, so per-query candidate mass is <= 12 * ceiling rows regardless
    * of corpus skew. The fixture's 31-word synthetic vocabulary makes
    * every word stopword-grade (df ~ 0.78N), so the REGISTERED query runs
    * with the ceiling disabled ([[Long.MaxValue]] — an honest ceiling
    * degenerates this fixture to empty); Bm25Spec proves the guard both
    * binding (a low ceiling excludes every fixture term) and transparent
    * (ceiling >= max df is row-identical to uncapped). Production sets an
    * absolute ceiling (classic WAND uses ~corpus_docs/20).
    *
    * Index-build shape: the postings table (doc, term, tf) is ONE
    * explode + one shuffle, MATERIALIZED once (cached — the single-node
    * analogue of the written index artifact; without it each of the five
    * consumers re-scans and re-explodes the corpus, measured as 5
    * Generate nodes in the plan). Doc length, document frequency, and
    * corpus stats all DERIVE from postings — the stored side-stat layout
    * of a real index. Query terms (Q x 12 rows) and the 1-row corpus
    * stats broadcast onto the postings, so candidate generation adds NO
    * shuffle; fan-out is bounded by rarest-first term selection. Then one
    * (query, doc) aggregation and one per-query window (both rank
    * filters push map-side via WindowGroupLimit). Determinism: each
    * term's score is fixed-pointed to integer MICRO-UNITS and the group
    * sums Longs — integer addition commutes, so the aggregation is
    * order-free across partitions (a float sum is not), partials combine
    * map-side, and no per-group array ever materializes (the first cut's
    * sorted-fold needed ObjectHashAggregate + a collect_list per group:
    * 3.8 s vs 2.3 s cold at sf0.1). Ranking compares the exact integer
    * sums (no float in the order), and the reported score is the ONE
    * IEEE divide + round(6) — round(4) here was a measured landmine:
    * micro-unit sums are exact 1e-6 multiples, so 1% of them land
    * precisely on a 4dp half-way boundary, where Spark (decimal-string
    * HALF_UP) and DuckDB (binary) round apart; at 6dp the value IS the
    * boundary-free decimal itself.
    */
  def nsTextBm25(spark: SparkSession, dir: String): DataFrame =
    bm25MoreLikeThis(spark, dir, Long.MaxValue)

  private[operators] def bm25MoreLikeThis(
      spark: SparkSession, dir: String, dfCeiling: Long): DataFrame = {
    val tf = bm25Postings(Tables.documents(spark, dir)).cache()
    val dlen = tf.groupBy("doc_id").agg(sum("tf").as("dlen"))
    val dfreq = tf.groupBy("wd").agg(count(lit(1)).as("df"))
    val stats = dlen.agg(count(lit(1)).as("n_docs"), sum("dlen").as("n_toks"))
    bm25Search(tf, dlen, dfreq, stats, dfCeiling)
  }

  /** The postings (doc, term, tf) table — ONE explode + one shuffle; both
    * the in-session query and the persisted index ([[IndexOps]]) build
    * from this.
    */
  private[operators] def bm25Postings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("wd"))
      .groupBy("doc_id", "wd").agg(count(lit(1)).as("tf"))

  /** The SEARCH stage over an already-built index (postings + the three
    * side-stat tables) — shared verbatim by the in-session query and the
    * stored-artifact query ([[IndexOps.queryBm25Index]]), so "answers from
    * the written index" is equality by construction, not a re-derivation.
    */
  private[operators] def bm25Search(
      tf: DataFrame, dlen: DataFrame, dfreq: DataFrame, stats: DataFrame,
      dfCeiling: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qterms = tf.where(col("doc_id") % BmQueryEvery === 0)
      .withColumnRenamed("doc_id", "query_id")
      .join(dfreq, "wd")
      // The df ceiling drops stopword-grade terms BEFORE the posting-list
      // join — the guard is on the broadcast side, so an over-ceiling
      // term's postings are never even scanned as candidates.
      .where(col("df") >= 2 && col("df") <= dfCeiling)
      .withColumn("qr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("df").asc, col("wd").asc)))
      .where(col("qr") <= BmQTerms)
      .select("query_id", "wd", "df")
    val cand = tf.join(broadcast(qterms), "wd")
      .where(col("doc_id") =!= col("query_id"))
      .join(dlen, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("ts_u", expr(s"CAST(round(($BmTermScore) * 1000000.0, 0) AS BIGINT)"))
    cand.groupBy("query_id", "doc_id")
      .agg(
        count(lit(1)).as("n_common_terms"),
        sum("ts_u").as("score_u"))
      .withColumn("score", round(col("score_u").cast("double") / 1000000.0, 6))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score_u").desc, col("doc_id")))
        .cast("long"))
      .where(col("rnk") <= BmTopK)
      .select("query_id", "rnk", "doc_id", "n_common_terms", "score")
      .orderBy("query_id", "rnk")
  }

  // PII patterns kept RE2-compatible (no lookaround/backrefs) so the exact
  // same strings run under Java regex (Spark) and RE2 (DuckDB oracle).
  private val PiiEmailRe = "[a-z0-9._%-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PiiPhoneRe = "\\+1-555-[0-9]{4}"
  private val PiiIpRe = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII detection + redaction — the scrubbing pass every pretraining
    * pipeline runs before packing (emails, phone numbers, IP addresses →
    * typed placeholders). The fixture corpus carries no PII, so the query
    * first splices a deterministic payload (derived from doc_id/source,
    * reproduced verbatim in the oracle) into each document — the operator
    * under test is the detect/redact stage, not the splice. Counts are per
    * class; the redacted text is compared by md5. Redaction order is
    * email → phone → IP so a later pattern can never match inside an
    * earlier placeholder.
    *
    * Scale posture: pure per-row column expressions (three codegen'd
    * regexps + md5) — shuffle-free except the presentation sort, linear in
    * corpus bytes, trivially partition-parallel at 100 TB.
    */
  def nsTextPii(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("raw", concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail-"), col("source"), lit(".com"),
        when(col("doc_id") % 2 === 0,
          concat(lit(" cc admin"), col("doc_id").cast("string"), lit("@example.org")))
          .otherwise(lit("")),
        when(col("doc_id") % 3 =!= 0,
          concat(lit(" call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        lit(" from 10."), (col("doc_id") % 256).cast("string"), lit(".0.1")))
    d.select(
      col("doc_id"),
      size(regexp_extract_all(col("raw"), lit(PiiEmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col("raw"), lit(PiiPhoneRe), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(col("raw"), lit(PiiIpRe), lit(0))).cast("long").as("n_ips"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col("raw"), PiiEmailRe, "[EMAIL]"),
          PiiPhoneRe, "[PHONE]"),
        PiiIpRe, "[IP]").as("redacted"))
      .select(
        col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        (col("n_emails") + col("n_phones") + col("n_ips")).as("n_pii"),
        md5(col("redacted").cast("binary")).as("redacted_hash"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ns_text_pii" -> (nsTextPii _),
    "ns_text_bpe_train" -> (nsTextBpeTrain _),
    "ns_text_bpe_encode" -> (nsTextBpeEncode _),
    "ns_text_bigram_lm" -> (nsTextBigramLm _),
    "ns_corpus_curriculum" -> (nsCorpusCurriculum _),
    "ns_text_collocations" -> (nsTextCollocations _),
    "ns_text_classify" -> (nsTextClassify _),
    "ns_text_classify_train" -> (nsTextClassifyTrain _),
    "ns_text_classify_trained" -> (nsTextClassifyTrained _),
    "ns_text_classify_eval" -> (nsTextClassifyEval _),
    "ns_text_classify_holdout" -> (nsTextClassifyHoldout _),
    "ns_text_bm25" -> (nsTextBm25 _),
    "ns_text_chunks" -> (nsTextChunks _),
    "ns_text_salient" -> (nsTextSalient _),
    "ns_text_rarity" -> (nsTextRarity _),
    "ns_text_repetition" -> (nsTextRepetition _),
    "ns_text_gopher" -> (nsTextGopher _),
    "ns_text_hotngrams" -> (nsTextHotNgrams _),
    "ns_text_unigram_train" -> (nsTextUnigramTrain _),
    "ns_text_unigram_encode" -> (nsTextUnigramEncode _),
    "ns_text_tokens" -> (nsTextTokens _),
    "ns_text_quality" -> (nsTextQuality _),
    "ns_text_langid" -> (nsTextLangId _),
    "ns_text_fingerprint" -> (nsTextFingerprint _),
    "ns_text_rollhash" -> (nsTextRollhash _),
    "ns_text_rollhash_fast" -> (nsTextRollhashFast _))

  /** Generated BPE oracle: v0 = word frequencies with anchored
    * pipe-delimited symbol strings; per merge i, a pair count over
    * adjacent symbols, a (cnt DESC, l, r) argmax, and the same literal
    * string replace the driver loop applies.
    */
  /** Training CTEs shared by the train and encode oracles: v0 = word
    * frequencies with anchored pipe-delimited symbol strings; per merge i,
    * a pair count over adjacent symbols, a (cnt DESC, l, r) argmax b_i,
    * and the same literal string replace the driver loop applies.
    */
  private[graft] def bpeTrainCtes: String = bpeTrainCtesFrom("TRUE")

  /** [[bpeTrainCtes]] over a document-predicate-restricted corpus — the
    * frozen day-1 vocabulary of the incremental platform path trains on
    * the pre-existing corpus only.
    */
  private[graft] def bpeTrainCtesFrom(pred: String): String = {
    // MATERIALIZED throughout: v_{i-1} is referenced by BOTH p_i and v_i
    // and b_i by both v_i and a consumer's encode chain — DuckDB inlines
    // plain CTEs per reference, so an unhinted chain re-expands
    // exponentially with the merge count.
    val iters = (1 to BpeMerges).map { i =>
      s"""p$i AS (
         |  SELECT s[i] AS l, s[i + 1] AS r, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, list_filter(string_split(seq, '|'), x -> x <> '') AS s
         |        FROM v${i - 1}), unnest(range(1, len(s))) AS t(i)
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |v$i AS MATERIALIZED (SELECT freq, replace(seq, '|' || l || '|' || r || '|', '|' || l || r || '|') AS seq
         |        FROM v${i - 1} CROSS JOIN b$i)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS MATERIALIZED (
       |  SELECT * FROM (
       |    SELECT CAST(count(*) AS BIGINT) AS freq,
       |           '|' || array_to_string(string_split(wd, ''), '|') || '|' AS seq
       |    FROM (SELECT unnest(string_split(lower(text), ' ')) AS wd FROM documents WHERE $pred)
       |    GROUP BY 2
       |    HAVING count(*) >= $BpeWordMinFreq)
       |  ORDER BY freq DESC, replace(seq, '|', '') LIMIT $BpeMaxVocab),
       |$iters""".stripMargin
  }

  /** Shared bigram-LM CTE chain (transitions + smoothless fixed-point
    * model) — used by the LM oracle and the curriculum oracle.
    */
  private def bigramScoreCtes: String =
    """docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |tr AS (
      |  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
      |  FROM docs, unnest(range(1, len(w))) AS t(i)
      |  WHERE len(w) >= 2),
      |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM tr GROUP BY 1, 2),
      |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM tr GROUP BY 1),
      |p AS (SELECT w1, w2, c12 * 1000000 // c1 AS p_u FROM c12 JOIN c1 USING (w1))""".stripMargin

  private def bpeOracle: String = {
    val sel = (1 to BpeMerges).map { i =>
      s"SELECT CAST($i AS BIGINT) AS merge_rank, l AS left_sym, r AS right_sym, l || r AS merged, cnt AS pair_count FROM b$i"
    }.mkString("\nUNION ALL\n")
    s"""WITH $bpeTrainCtes
       |SELECT * FROM ($sel) ORDER BY merge_rank""".stripMargin
  }

  /** Encode oracle: replay training (shared CTEs), then apply the same
    * replace chain to every word of every document and count symbols by
    * pipe-counting — the merged symbols concatenated ARE the word, so
    * n_chars falls out of replace(s, '|', '').
    */
  private def bpeEncodeOracle: String = {
    val chain = (1 to BpeMerges).map { i =>
      s"""e$i AS (SELECT doc_id, replace(s, '|' || l || '|' || r || '|', '|' || l || r || '|') AS s
         |        FROM e${i - 1} CROSS JOIN b$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH $bpeTrainCtes,
       |docw AS (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS wd
       |  FROM documents),
       |e0 AS (SELECT doc_id, '|' || regexp_replace(wd, '(.)', '\\1|', 'g') AS s FROM docw),
       |$chain
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(len(s) - len(replace(s, '|', '')) - 1) AS BIGINT) AS n_bpe_tokens,
       |       CAST(sum(len(replace(s, '|', ''))) AS BIGINT) AS n_chars,
       |       round(CAST(sum(len(replace(s, '|', ''))) AS DOUBLE)
       |             / sum(len(s) - len(replace(s, '|', '')) - 1), 6) AS chars_per_token
       |FROM e$BpeMerges GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The Gopher rule-battery oracle, factored to a val so the
    * trained-classifier CTE chain can embed it as its LABEL subquery
    * (the pipe_corpus_admission composition pattern, in-object).
    */
  private[operators] val gopherOracleSql: String =
      """WITH d AS (
        |  SELECT doc_id, lower(text) AS lt,
        |         list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         CAST(len(ws) AS BIGINT) AS nw,
        |         CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT) AS wchars,
        |         CAST(len(regexp_extract_all(lt, '[^a-z0-9 ]')) AS BIGINT) AS punct,
        |         CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS alpha_words,
        |         CAST(len(list_distinct(list_filter(ws,
        |           t -> t IN ('the','a','of','and','is','to','in','that','be','have','with')))) AS BIGINT) AS n_stop_distinct,
        |         CASE WHEN len(ws) >= 3 THEN
        |           CAST(len(ws) - 2 - len(list_distinct(list_transform(range(1, len(ws) - 1),
        |             i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] || ' ' || ws[CAST(i AS INT) + 2]))) AS BIGINT)
        |         ELSE CAST(0 AS BIGINT) END AS dup3
        |  FROM d WHERE len(ws) > 0),
        |u AS (
        |  SELECT doc_id, nw,
        |         (wchars * 1000000) // nw AS mwl_u,
        |         (punct * 1000000) // nw AS sym_u,
        |         (alpha_words * 1000000) // nw AS alpha_u,
        |         n_stop_distinct,
        |         CASE WHEN nw >= 3 THEN (dup3 * 1000000) // (nw - 2) ELSE 0 END AS dup3_u
        |  FROM s)
        |SELECT doc_id, nw AS n_words, mwl_u, sym_u, alpha_u, n_stop_distinct, dup3_u,
        |       nw BETWEEN 20 AND 90 AS r_words,
        |       mwl_u BETWEEN 3000000 AND 10000000 AS r_mwl,
        |       sym_u <= 100000 AS r_symbol,
        |       alpha_u >= 800000 AS r_alpha,
        |       n_stop_distinct >= 2 AS r_stop,
        |       dup3_u <= 30000 AS r_rep,
        |       (nw BETWEEN 20 AND 90) AND (mwl_u BETWEEN 3000000 AND 10000000)
        |         AND sym_u <= 100000 AND alpha_u >= 800000
        |         AND n_stop_distinct >= 2 AND dup3_u <= 30000 AS pass
        |FROM u ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "ns_text_pii" ->
      s"""WITH r AS (
         |  SELECT doc_id,
         |         text || ' contact user' || doc_id || '@mail-' || source || '.com'
         |           || CASE WHEN doc_id % 2 = 0 THEN ' cc admin' || doc_id || '@example.org' ELSE '' END
         |           || CASE WHEN doc_id % 3 <> 0 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         |           || ' from 10.' || (doc_id % 256) || '.0.1' AS raw
         |  FROM documents),
         |c AS (
         |  SELECT doc_id,
         |         CAST(len(regexp_extract_all(raw, '$PiiEmailRe')) AS BIGINT) AS n_emails,
         |         CAST(len(regexp_extract_all(raw, '$PiiPhoneRe')) AS BIGINT) AS n_phones,
         |         CAST(len(regexp_extract_all(raw, '$PiiIpRe')) AS BIGINT) AS n_ips,
         |         md5(regexp_replace(regexp_replace(regexp_replace(raw,
         |             '$PiiEmailRe', '[EMAIL]', 'g'),
         |             '$PiiPhoneRe', '[PHONE]', 'g'),
         |             '$PiiIpRe', '[IP]', 'g')) AS redacted_hash
         |  FROM r)
         |SELECT doc_id, n_emails, n_phones, n_ips,
         |       n_emails + n_phones + n_ips AS n_pii, redacted_hash
         |FROM c ORDER BY doc_id""".stripMargin,
    "ns_text_bpe_train" -> bpeOracle,
    "ns_text_bpe_encode" -> bpeEncodeOracle,
    "ns_text_bigram_lm" ->
      s"""WITH $bigramScoreCtes
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_trans,
        |  CAST(min(p_u) AS BIGINT) AS min_p_u,
        |  round(CAST(sum(p_u) // count(*) AS DOUBLE) / 1000000, 6) AS mean_p,
        |  (sum(p_u) * 29 >= count(*) * 1000000) AS fluent
        |FROM tr JOIN p USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ns_corpus_curriculum" ->
      s"""WITH $bigramScoreCtes,
        |sd AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trans,
        |         CAST(sum(p_u) // count(*) AS BIGINT) AS mean_p_u
        |  FROM tr JOIN p USING (w1, w2) GROUP BY doc_id),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY mean_p_u, doc_id) AS BIGINT) AS rnk,
        |         CAST(count(*) OVER () AS BIGINT) AS n
        |  FROM sd)
        |SELECT doc_id, n_trans, mean_p_u, rnk,
        |       (rnk - 1) * 10 // n + 1 AS decile
        |FROM r ORDER BY doc_id""".stripMargin,
    "ns_text_collocations" ->
      s"""WITH docs AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |tr AS (
        |  SELECT w[i] AS w1, w[i + 1] AS w2
        |  FROM docs, unnest(range(1, len(w))) AS t(i)
        |  WHERE len(w) >= 2),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM tr GROUP BY 1, 2
        |        HAVING count(*) >= $CollocMinSupport),
        |c1t AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1 FROM tr GROUP BY 1),
        |c2t AS (SELECT w2, CAST(count(*) AS BIGINT) AS c2 FROM tr GROUP BY 1),
        |ranked AS (
        |  SELECT c12.w1, c12.w2, c12, c1, c2,
        |         CAST(((c12 * 1000000 // c1) * 1000000) // c2 AS BIGINT) AS lift_u
        |  FROM c12 JOIN c1t USING (w1) JOIN c2t USING (w2))
        |SELECT CAST(row_number() OVER (ORDER BY lift_u DESC, w1, w2) AS BIGINT) AS rnk,
        |       w1, w2, c12, c1, c2, lift_u
        |FROM ranked ORDER BY lift_u DESC, w1, w2 LIMIT $CollocK""".stripMargin,
    "ns_text_classify" -> {
      val wlist = clsWeightsU.mkString("[", ", ", "]")
      s"""WITH d AS (
         |  SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents),
         |z AS (
         |  SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(ws, w -> $wlist[CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |             list_transform(string_split(w, ''), ch -> CAST(ascii(ch) AS BIGINT))),
         |             (acc, x) -> (acc * $RollBase + x) % $RollMod) % $ClsBuckets AS INT) + 1])),
         |           (acc, x) -> acc + x) + CAST(len(ws) AS BIGINT) * $ClsBiasU AS z_u
         |  FROM d)
         |SELECT doc_id, n_tokens,
         |       round(CAST(z_u // n_tokens AS DOUBLE) / 1000000.0, 6) AS logit,
         |       z_u > 0 AS keep
         |FROM z ORDER BY doc_id""".stripMargin
    },
    "ns_text_bm25" ->
      s"""WITH $bm25OracleCtes
         |SELECT query_id, CAST(rnk AS BIGINT) AS rnk, doc_id, n_common_terms, score
         |FROM r WHERE rnk <= $BmTopK ORDER BY query_id, rnk""".stripMargin,
    "ns_text_chunks" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id, w, greatest(0, len(w) - $ChunkWords) AS extra FROM d),
         |c AS (SELECT doc_id, w,
         |        unnest(generate_series(0, (extra + ${ChunkStride - 1}) // $ChunkStride))
         |          AS chunk_idx
         |      FROM s)
         |SELECT doc_id, chunk_idx,
         |       len(list_slice(w, chunk_idx * $ChunkStride + 1,
         |                      chunk_idx * $ChunkStride + $ChunkWords)) AS n_chunk_words,
         |       array_to_string(list_slice(w, chunk_idx * $ChunkStride + 1,
         |                      chunk_idx * $ChunkStride + $ChunkWords), ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "ns_text_salient" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS wd
         |  FROM documents),
         |tf AS (SELECT doc_id, wd, count(*) AS tf FROM w GROUP BY doc_id, wd),
         |df AS (SELECT wd, count(DISTINCT doc_id) AS df FROM w GROUP BY wd),
         |s AS (SELECT tf.doc_id, tf.wd, tf.tf, df.df,
         |             round(tf.tf * 1.0 / df.df, 6) AS score
         |      FROM tf JOIN df USING (wd)),
         |r AS (SELECT *, row_number() OVER
         |        (PARTITION BY doc_id ORDER BY score DESC, wd) AS rnk FROM s)
         |SELECT doc_id, rnk, wd, tf, df, score FROM r
         |WHERE rnk <= $SalientK ORDER BY doc_id, rnk""".stripMargin,
    "ns_text_rarity" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS wd
        |  FROM documents),
        |c AS (SELECT wd, count(*) AS c FROM w GROUP BY wd),
        |j AS (SELECT w.doc_id, c.c FROM w JOIN c USING (wd))
        |SELECT doc_id, count(*) AS n_words,
        |       round(CAST(sum(c) AS BIGINT) * 1.0 / count(*), 6) AS mean_word_freq,
        |       round(CAST(sum(CASE WHEN c <= 2 THEN 1 ELSE 0 END) AS BIGINT) * 1.0
        |             / count(*), 6) AS rare_ratio,
        |       round(CAST(sum(CASE WHEN c <= 2 THEN 1 ELSE 0 END) AS BIGINT) * 1.0
        |             / count(*), 6) > 0.5 AS rare_heavy
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "ns_text_unigram_train" ->
      s"""WITH $unigramEmCtes
        |SELECT rank, piece, score, logp_u FROM v1 ORDER BY rank""".stripMargin,
    "ns_text_unigram_encode" -> unigramEncodeOracle,
    "ns_text_hotngrams" ->
      s"""WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT)+1] || ' ' || w[CAST(i AS INT)+2] AS shingle
        |  FROM toks, unnest(range(1, len(w)-1)) AS t(i)
        |  WHERE len(w) >= 3),
        |df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1),
        |r AS (SELECT shingle, df,
        |             CAST(row_number() OVER (ORDER BY df DESC, shingle) AS BIGINT) AS rank
        |      FROM df)
        |SELECT rank, shingle, df FROM r WHERE rank <= $HotNgramK
        |ORDER BY rank""".stripMargin,
    "ns_text_gopher" -> gopherOracleSql,
    "ns_text_classify_train" ->
      s"""WITH $classifierTrainCtes
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(wu AS BIGINT) AS weight_u
         |FROM w$ClsIters ORDER BY bucket""".stripMargin,
    "ns_text_classify_trained" ->
      classifyTrainedOracleOn("SELECT doc_id FROM documents"),
    "ns_text_classify_eval" ->
      s"""WITH $classifierTrainCtes,
         |csc AS (
         |  SELECT f.doc_id, f.y_u,
         |         CAST(${sdivSql("SUM(w.wu * f.xn_u)", "1000000", "//")} AS BIGINT) AS m_u
         |  FROM cfeat f JOIN w$ClsIters w USING (bucket)
         |  GROUP BY f.doc_id, f.y_u),
         |cm AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(CASE WHEN m_u > 0 AND y_u = 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(sum(CASE WHEN m_u > 0 AND y_u <> 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(sum(CASE WHEN m_u <= 0 AND y_u = 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |         CAST(sum(CASE WHEN m_u <= 0 AND y_u <> 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM csc)
         |SELECT n_docs, tp, fp, fn, tn,
         |       ((tp + tn) * 1000000) // n_docs AS acc_u,
         |       CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp) END AS prec_u,
         |       CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn) END AS rec_u
         |FROM cm""".stripMargin,
    "ns_text_classify_holdout" -> {
      import graft.operators.SamplingOps.{SampleKeyA, SampleKeyB, SampleKeyP}
      s"""WITH RECURSIVE ${DedupOps.componentLabelCtes},
         |spl AS MATERIALIZED (
         |  SELECT doc_id,
         |         CASE WHEN ((component * $SampleKeyA + $SampleKeyB) % $SampleKeyP) % 100 < 80
         |              THEN 'train'
         |              WHEN ((component * $SampleKeyA + $SampleKeyB) % $SampleKeyP) % 100 < 90
         |              THEN 'validation'
         |              ELSE 'test' END AS split
         |  FROM comp),
         |${classifierTrainCtesOn("SELECT doc_id FROM spl WHERE split = 'train'")},
         |csc AS (
         |  SELECT f.doc_id, s.split AS slice, f.y_u,
         |         CAST(${sdivSql("SUM(w.wu * f.xn_u)", "1000000", "//")} AS BIGINT) AS m_u
         |  FROM cfeat f JOIN spl s USING (doc_id) JOIN w$ClsIters w USING (bucket)
         |  WHERE s.split IN ('train', 'test')
         |  GROUP BY f.doc_id, s.split, f.y_u),
         |cm AS (
         |  SELECT slice, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(CASE WHEN m_u > 0 AND y_u = 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |         CAST(sum(CASE WHEN m_u > 0 AND y_u <> 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |         CAST(sum(CASE WHEN m_u <= 0 AND y_u = 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |         CAST(sum(CASE WHEN m_u <= 0 AND y_u <> 1000000 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM csc GROUP BY slice)
         |SELECT slice, n_docs, tp, fp, fn, tn,
         |       ((tp + tn) * 1000000) // n_docs AS acc_u,
         |       CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp) END AS prec_u,
         |       CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn) END AS rec_u
         |FROM cm ORDER BY slice""".stripMargin
    },
    "ns_text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |occ AS (
        |  SELECT doc_id,
        |         w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT)+1] || ' ' || w[CAST(i AS INT)+2] AS shingle
        |  FROM toks, unnest(range(1, len(w)-1)) AS t(i)
        |  WHERE len(w) >= 3),
        |g AS (SELECT doc_id, shingle, count(*) AS c FROM occ GROUP BY 1, 2),
        |d AS (
        |  SELECT doc_id,
        |         CAST(sum(c) AS BIGINT) AS total_3grams,
        |         count(*) AS uniq_3grams,
        |         CAST(max(c) AS BIGINT) AS top_count
        |  FROM g GROUP BY 1)
        |SELECT doc_id, total_3grams, uniq_3grams,
        |       round(1 - uniq_3grams * 1.0 / total_3grams, 6) AS dup_ratio,
        |       round(top_count * 1.0 / total_3grams, 6) AS top_share,
        |       round(1 - uniq_3grams * 1.0 / total_3grams, 6) > 0.03 AS repetitive
        |FROM d ORDER BY doc_id""".stripMargin,
    "ns_text_rollhash" -> rollhashOracle,
    "ns_text_rollhash_fast" -> rollhashOracle,
    "ns_text_tokens" ->
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS bpe_tokens,
        |       CAST(length(text) AS BIGINT) AS chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "ns_text_quality" ->
      """WITH q AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS DOUBLE) AS toks,
        |         CAST(len(list_filter(string_split(lower(text), ' '),
        |              t -> t IN ('the','a','of','and','is','to','in'))) AS DOUBLE) AS stop_hits,
        |         CAST(len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS DOUBLE) AS punct,
        |         CAST(length(text) AS DOUBLE) AS chars
        |  FROM documents WHERE length(text) > 0),
        |s AS (
        |  SELECT doc_id,
        |         CAST(toks AS BIGINT) AS n_tokens,
        |         round(chars / toks, 6) AS mean_token_len,
        |         round(punct / chars, 6) AS punct_ratio,
        |         round(stop_hits / toks, 6) AS stopword_ratio,
        |         round(least(1.0, round(stop_hits / toks, 6) * 2.0 +
        |               CASE WHEN toks >= 20 THEN 0.5 ELSE 0.0 END -
        |               round(punct / chars, 6)), 6) AS quality_score
        |  FROM q)
        |SELECT doc_id, n_tokens, mean_token_len, punct_ratio, stopword_ratio, quality_score,
        |       CASE WHEN quality_score >= 0.7 THEN 'high'
        |            WHEN quality_score >= 0.4 THEN 'medium' ELSE 'low' END AS tier
        |FROM s ORDER BY doc_id""".stripMargin,
    "ns_text_langid" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split(lower(text),' '), t -> t IN ('the','a','of','and','is'))) AS BIGINT) AS en_hits,
        |    CAST(len(list_filter(string_split(lower(text),' '), t -> t IN ('el','la','de','los','y'))) AS BIGINT) AS es_hits,
        |    CAST(len(list_filter(string_split(lower(text),' '), t -> t IN ('der','die','das','und','ist'))) AS BIGINT) AS de_hits,
        |    CAST(len(list_filter(string_split(lower(text),' '), t -> t IN ('le','la','de','les','et'))) AS BIGINT) AS fr_hits
        |  FROM documents)
        |SELECT doc_id, lang,
        |       CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
        |            WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es'
        |            WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
        |            WHEN fr_hits > 0 THEN 'fr'
        |            ELSE 'unknown' END AS predicted_lang,
        |       en_hits, es_hits, de_hits, fr_hits
        |FROM h ORDER BY doc_id""".stripMargin,
    "ns_text_fingerprint" ->
      """SELECT doc_id,
        |       sha256(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint,
        |       substr(sha256(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 4) AS bucket
        |FROM documents ORDER BY doc_id""".stripMargin)
}
