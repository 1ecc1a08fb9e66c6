package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** graft's expressions reach queries only as typed Columns: every query
  * that uses one builds and analyzes in a session where none of their
  * names is registered, and building it registers none.
  */
class TypedFunctionsSpec extends SparkSpec {

  private val names = Seq("cosine_sim", "dot_product", "minhash_sig",
    "minhash_from_set", "bloom_filter_agg", "might_contain")

  /** The registered queries that use a graft expression (cosine_sim,
    * dot_product, minhash_from_set or the bloom pair).
    */
  private val users = Seq(
    "ns_corpus_split", "ns_corpus_topics", "ns_decontaminate_bloom",
    "ns_decontaminate_fuzzy", "ns_dedup_components", "ns_dedup_corpus",
    "ns_dedup_incremental", "ns_dedup_minhash", "ns_dedup_minhash_index_build",
    "ns_dedup_minhash_indexed", "ns_dedup_source_matrix",
    "ns_sim_bruteforce_topk", "ns_sim_diversity_sample", "ns_sim_graph_beam",
    "ns_sim_graph_index_build", "ns_sim_graph_indexed", "ns_sim_ivf_index_build",
    "ns_sim_ivf_indexed", "ns_sim_ivf_multiprobe", "ns_sim_ivf_topk",
    "ns_sim_ivf_trained", "ns_sim_ivfpq_index_build", "ns_sim_ivfpq_indexed",
    "ns_sim_ivfpq_topk", "ns_sim_knn_graph", "ns_sim_lsh_topk",
    "ns_sim_neardup_lsh", "ns_sim_neardup_pairs", "ns_sim_pagerank",
    "ns_sim_pq_topk", "ns_sim_pq_trained", "ns_sim_quant_rerank",
    "ns_sim_quant_topk", "ns_sim_semdedup", "ns_text_classify_holdout",
    "ns_text_hybrid_rrf", "pipe_corpus_admission", "pipe_corpus_build",
    "pipe_corpus_report", "pipe_crawl_corpus", "pipe_crawl_delta",
    "pipe_platform_build", "pipe_platform_delta", "pipe_training_corpus")

  test("queries using graft expressions resolve with no function name registered") {
    val fresh = spark.newSession()
    // A JVM whose first session installed GraftExtensions carries the
    // names into every later session; drop them so only Columns resolve.
    names.foreach(n => fresh.sessionState.functionRegistry.dropFunction(FunctionIdentifier(n)))
    val failures = users.flatMap { q =>
      try { SparkEntry.queries(q)(fresh, sfDir).queryExecution.assertAnalyzed(); None }
      catch { case e: Throwable => Some(s"$q: ${e.getMessage.take(160)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    val registered = names.filter(fresh.catalog.functionExists)
    assert(registered.isEmpty, s"building the queries registered ${registered.mkString(", ")}")
  }
}
