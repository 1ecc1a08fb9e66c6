package graft

import graft.operators._
import graft.ops._
import graft.pipeline.{Pipelines, ServingEndpoints}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a registered query is to the harnesses that time it. A module
  * declares the kind by the map it registers a constructor in; every
  * query outside those maps is an [[QueryKind.Op]].
  */
sealed trait QueryKind
object QueryKind {
  /** A served API request: the reference's `handle_request_*` surface. */
  case object Endpoint extends QueryKind
  /** A request answered from a stored index artifact, built on first use. */
  case object StoredIndexServe extends QueryKind
  /** The brute-force truth an approximate twin is measured against. */
  case object ExactBaseline extends QueryKind
  case object Op extends QueryKind
}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Each SURVEY.md §2 operator OP-xx appears as one `queries` entry with a
  * matching DuckDB `oracleSql` statement (bare table names; the driver
  * registers the fixture parquet files as views). Column names and row
  * ordering are aligned between the Spark plan and the oracle SQL; float
  * aggregates are canonicalized with round(..., 6) on BOTH sides.
  */
object SparkEntry {

  /** All operator modules contributing queries + oracles. */
  private val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (SourceSinkOps.queries, SourceSinkOps.oracles),
      (RelationalOps.queries, RelationalOps.oracles),
      (JoinOps.queries, JoinOps.oracles),
      (AggOps.queries, AggOps.oracles),
      (WindowOps.queries, WindowOps.oracles),
      (SortSetOps.queries, SortSetOps.oracles),
      (ScalarOps.queries, ScalarOps.oracles),
      (TextOps.queries, TextOps.oracles),
      (SessionOps.queries, SessionOps.oracles),
      (SamplingOps.queries, SamplingOps.oracles),
      (PackingOps.queries, PackingOps.oracles),
      (DedupOps.queries, DedupOps.oracles),
      (SimilarityOps.queries, SimilarityOps.oracles),
      (HybridOps.queries, HybridOps.oracles),
      (IndexOps.queries, IndexOps.oracles),
      (MultimodalOps.queries, MultimodalOps.oracles),
      (Pipelines.queries, Pipelines.oracles),
      (ServingEndpoints.queries, ServingEndpoints.oracles))

  /** The kinded sub-maps of the modules' registries; each is part of its
    * module's `queries`, so a name and its kind are written once.
    */
  private val kinded: Seq[(QueryKind, Map[String, (SparkSession, String) => DataFrame])] =
    Seq(
      QueryKind.Endpoint -> ServingEndpoints.queries,
      QueryKind.Endpoint -> Pipelines.endpoints,
      QueryKind.StoredIndexServe -> IndexOps.storedIndexServes,
      QueryKind.ExactBaseline -> SimilarityOps.exactBaselines)

  /** The kinds a name is declared with (empty for an op). */
  private[graft] def declaredKinds(name: String): Seq[QueryKind] =
    kinded.collect { case (k, m) if m.contains(name) => k }

  def kindOf(name: String): QueryKind = declaredKinds(name).headOption.getOrElse(QueryKind.Op)

  /** The registered names of one kind, sorted. */
  def ofKind(kind: QueryKind): Seq[String] =
    queries.keys.filter(kindOf(_) == kind).toSeq.sorted

  /** Flagship query (OP-38 cumulative income); driver smoke-checks rows>0
    * on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    WindowOps.op38CumulativeIncome(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val merged = modules.iterator.map(_._1).reduce(_ ++ _)
    // A duplicate query name across modules would silently shadow an earlier
    // query (and its oracle) while every gate still passes — fail loudly.
    require(merged.size == modules.map(_._1.size).sum,
      s"duplicate query names across modules: ${
        modules.flatMap(_._1.keys).groupBy(identity).collect { case (k, v) if v.size > 1 => k }.mkString(", ")}")
    merged
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check.
    */
  def oracleSql: Map[String, String] = {
    val merged = modules.iterator.map(_._2).reduce(_ ++ _)
    require(merged.size == modules.map(_._2.size).sum,
      s"duplicate oracle names across modules: ${
        modules.flatMap(_._2.keys).groupBy(identity).collect { case (k, v) if v.size > 1 => k }.mkString(", ")}")
    // An oracle keyed to a nonexistent query would never run — the query
    // would silently downgrade to a rows-only check. Fail loudly instead.
    val orphans = merged.keySet -- queries.keySet
    require(orphans.isEmpty, s"oracles without a matching query: ${orphans.mkString(", ")}")
    merged
  }
}
