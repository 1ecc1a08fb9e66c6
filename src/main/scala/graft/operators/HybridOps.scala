package graft.operators

import graft.functions.cosineSim
import graft.model.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid lexical+dense retrieval — reciprocal-rank fusion (Cormack et
  * al. 2009, the standard used by every hybrid RAG stack) of the BM25
  * more-like-this ranking ([[TextOps]]) and the embedding-cosine top-k
  * ([[SimilarityOps]]'s recipe), for the query documents both retrievers
  * cover (doc_id % 50 == 0 with a stored embedding; the fixtures key
  * `embeddings.vec_id` by `documents.doc_id`).
  *
  * RRF is rank-only — scores from the two retrievers are never compared
  * in their incompatible units. Each list contributes
  * floor(1e12 / (K + rank)) in exact integer units (K = 60, the paper's
  * constant), so the fused ordering is a Long sum with no float anywhere
  * — engine-identical by construction, the fixed-point discipline of the
  * BM25/DSIR family.
  *
  * Scale shape: both retrievers keep their proven plans (BM25: broadcast
  * query terms onto postings, WAND-lite ceiling available; dense:
  * broadcast queries, codegen cosine — at 100 TB the ANN variants slot in
  * unchanged because fusion only consumes (query, doc, rank) triples).
  * The fusion itself joins two Q x 10 rank lists — metadata-scale — with
  * a full-outer on (query, doc) and one per-query top-k window.
  */
object HybridOps {

  private val DenseTopK = 10
  private val RrfK = 60
  private val FusedTopK = 10

  /** Dense side: cosine top-[[DenseTopK]] per query doc among all
    * embedded docs — the [[SimilarityOps.nsSimBruteforceTopk]] recipe
    * (round(cos, 4), id tie-break) with the BM25 query cadence.
    */
  private def denseTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.where(col("vec_id") % TextOps.BmQueryEvery === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val cands = emb.select(col("vec_id").as("doc_id"), col("embedding").as("c_emb"))
    broadcast(queries).join(cands, col("query_id") =!= col("doc_id"))
      .withColumn("cos", round(cosineSim(col("q_emb"), col("c_emb")), 4))
      .withColumn("dense_rnk", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("doc_id").asc))
        .cast("long"))
      .where(col("dense_rnk") <= DenseTopK)
      .select("query_id", "doc_id", "dense_rnk")
  }

  def nsTextHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val embIds = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("query_id"))
    // Lexical side restricted to queries the dense side also covers —
    // RRF fuses the retrievers' lists for the SHARED query set.
    val lex = TextOps.nsTextBm25(spark, dir)
      .join(broadcast(embIds), Seq("query_id"), "left_semi")
      .select(col("query_id"), col("doc_id"), col("rnk").as("lex_rnk"))
    val fused = lex
      .join(denseTopk(spark, dir), Seq("query_id", "doc_id"), "full_outer")
      .select(
        col("query_id"), col("doc_id"),
        coalesce(col("lex_rnk"), lit(0L)).as("lex_rnk"),
        coalesce(col("dense_rnk"), lit(0L)).as("dense_rnk"))
      .withColumn("rrf_u", expr(
        s"""CASE WHEN lex_rnk > 0 THEN 1000000000000 DIV ($RrfK + lex_rnk) ELSE 0 END +
           |CASE WHEN dense_rnk > 0 THEN 1000000000000 DIV ($RrfK + dense_rnk) ELSE 0 END""".stripMargin))
    fused
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("rrf_u").desc, col("doc_id").asc))
        .cast("long"))
      .where(col("rank") <= FusedTopK)
      .select("query_id", "rank", "doc_id", "rrf_u", "lex_rnk", "dense_rnk")
      .orderBy("query_id", "rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ns_text_hybrid_rrf" -> (nsTextHybridRrf _))

  /** Fusion oracle: the shared BM25 CTE chain + the bruteforce-cosine
    * recipe + integer RRF, replayed column for column.
    */
  val oracles: Map[String, String] = Map(
    "ns_text_hybrid_rrf" ->
      s"""WITH ${TextOps.bm25OracleCtes},
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |dq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % ${TextOps.BmQueryEvery} = 0),
         |ds AS (
         |  SELECT query_id, e.vec_id AS doc_id,
         |         round(list_cosine_similarity(qv, e.v), 4) AS cos
         |  FROM dq JOIN e ON query_id <> e.vec_id),
         |dr AS (
         |  SELECT query_id, doc_id,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |              ORDER BY cos DESC, doc_id ASC) AS BIGINT) AS dense_rnk
         |  FROM ds),
         |dtop AS (SELECT query_id, doc_id, dense_rnk FROM dr WHERE dense_rnk <= $DenseTopK),
         |ltop AS (
         |  SELECT query_id, doc_id, CAST(rnk AS BIGINT) AS lex_rnk FROM r
         |  WHERE rnk <= ${TextOps.BmTopK}
         |    AND query_id IN (SELECT vec_id FROM embeddings)),
         |fused AS (
         |  SELECT coalesce(l.query_id, d.query_id) AS query_id,
         |         coalesce(l.doc_id, d.doc_id) AS doc_id,
         |         coalesce(l.lex_rnk, 0) AS lex_rnk,
         |         coalesce(d.dense_rnk, 0) AS dense_rnk
         |  FROM ltop l FULL OUTER JOIN dtop d
         |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
         |sc2 AS (
         |  SELECT query_id, doc_id, lex_rnk, dense_rnk,
         |         (CASE WHEN lex_rnk > 0 THEN 1000000000000 // ($RrfK + lex_rnk) ELSE 0 END)
         |       + (CASE WHEN dense_rnk > 0 THEN 1000000000000 // ($RrfK + dense_rnk) ELSE 0 END) AS rrf_u
         |  FROM fused),
         |fr AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |            ORDER BY rrf_u DESC, doc_id ASC) AS BIGINT) AS rank
         |  FROM sc2)
         |SELECT query_id, rank, doc_id, CAST(rrf_u AS BIGINT) AS rrf_u, lex_rnk, dense_rnk
         |FROM fr WHERE rank <= $FusedTopK ORDER BY query_id, rank""".stripMargin)
}
