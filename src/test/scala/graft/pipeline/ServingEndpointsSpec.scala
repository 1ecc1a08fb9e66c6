package graft.pipeline

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** The serving-surface contract: every `handle_request_*` endpoint of the
  * reference api_handler (reference: /root/reference/src/api_handler.py)
  * maps to a registered, oracled pipeline query — and the new endpoint
  * plans keep the scale posture (no cartesian products; nested-loop joins
  * only as broadcast crosses against 1-row frontier aggregates).
  */
class ServingEndpointsSpec extends SparkSpec {

  /** api_handler endpoint → pipeline query. The two `_open_index`
    * variants reuse their base pipeline (the open index is one group of
    * the restated-for-every-key plan).
    */
  private val endpointMap = Map(
    "leaderboard" -> "pipe_leaderboard",
    "topIndexes" -> "pipe_top_indexes",
    "indexAPRAverage" -> "pipe_index_apr_average",
    "validatorEpochWiseApr" -> "pipe_epoch_wise_apr",
    "averageIndexAPR" -> "pipe_average_index_apr",
    "indexdETHEarned" -> "pipe_index_deth_earned",
    "indexValidators" -> "pipe_index_validators",
    "validatorLSDScore" -> "pipe_validator_lsd_score",
    "indexRedemptionRate" -> "pipe_index_redemption_rate",
    "savETHIndexNames" -> "pipe_saveth_index_names",
    "mevWatchInfo" -> "pipe_mev_watch",
    "indexLeaderboard" -> "pipe_index_leaderboard",
    "userIncome" -> "pipe_user_income",
    "indexValidators_open_index" -> "pipe_index_validators",
    "indexRedemptionRate_open_index" -> "pipe_index_redemption_rate",
    "userIncomeMEV" -> "pipe_user_income_mev",
    "userIncomeNodeRunner" -> "pipe_user_income_node_runner",
    "validatorSlotWithdrawals" -> "pipe_validator_slot_withdrawals",
    "validatorWithdrawalsLowerSlot" -> "pipe_withdrawals_slot_range",
    "validatorWithdrawalsLowerUpperSlot" -> "pipe_withdrawals_slot_bounds",
    "ponBlsKey" -> "pipe_pon_eligibility",
    "lsdWiseAPR" -> "pipe_lsd_wise_apr",
    "validatorAprEpochs" -> "pipe_apr_between_epochs")

  test("all 23 api_handler endpoints map to registered, oracled queries") {
    assert(endpointMap.size == 23)
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    val missing = endpointMap.filterNot { case (_, q) => queries(q) && oracles(q) }
    assert(missing.isEmpty, s"endpoints without an oracled query: $missing")
  }

  private val served = (ServingEndpoints.queries.keySet ++ Pipelines.endpoints).toSeq.sorted

  test("the served endpoint mix: 24 registered endpoints, every api_handler query among them") {
    val unregistered = Pipelines.endpoints.filterNot(Pipelines.queries.contains)
    assert(unregistered.isEmpty, s"Pipelines.endpoints not in Pipelines.queries: $unregistered")
    assert(Pipelines.endpoints.distinct.size == Pipelines.endpoints.size && served.size == 24)
    assert(served.forall(SparkEntry.queries.contains))
    val unserved = endpointMap.values.toSet -- served.toSet
    assert(unserved.isEmpty, s"api_handler endpoints the serving mix skips: $unserved")
  }

  private def collectAll(plan: SparkPlan): Seq[SparkPlan] =
    (plan +: plan.children.flatMap(collectAll)) ++ (plan match {
      case a: AdaptiveSparkPlanExec => collectAll(a.inputPlan)
      case _ => Nil
    })

  test("new endpoint plans: no cartesian; nested-loop only as 1-row broadcast cross") {
    val dir = "/root/testdata/sf0.001"
    for (name <- ServingEndpoints.queries.keys) {
      val plan = ServingEndpoints.queries(name)(spark, dir).queryExecution.executedPlan
      val nodes = collectAll(plan)
      assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), s"$name has a cartesian")
      nodes.collect { case b: BroadcastNestedLoopJoinExec => b }.foreach { b =>
        assert(b.joinType.sql == "CROSS", s"$name: non-cross nested loop join")
        // The broadcast side must be an aggregate-produced frontier (a
        // global agg emits exactly one row) — never a table scan.
        val broadcastSide = if (b.buildSide.toString.contains("Right")) b.right else b.left
        val aggy = collectAll(broadcastSide).exists(
          _.getClass.getSimpleName.contains("HashAggregate"))
        assert(aggy, s"$name: cross-join broadcast side is not a 1-row aggregate")
      }
    }
  }

  test("the response edge: no served endpoint range-partitions; composed frames stay unordered") {
    // The executed AQE plans: `inputPlan` holds no exchange yet (AQE's
    // preparation inserts them), so an inputPlan walk could never fail.
    val exchanges = served.map { name =>
      name -> aqeFinalNodes(SparkEntry.queries(name)(spark, sfDir))
        .collect { case e: ShuffleExchangeExec => e }
    }
    // the walk must see the endpoints' hash exchanges, or absence is vacuous
    assert(exchanges.exists(_._2.nonEmpty), "plan walk found no shuffle exchange at all")
    val ranged = exchanges.collect {
      case (name, es) if es.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]) => name
    }
    assert(ranged.isEmpty, s"range-partitioned exchange in: ${ranged.mkString(", ")}")
    // The building blocks other endpoints compose carry no global sort, so
    // a composed endpoint sorts once, at its own response edge.
    val frames = Seq(
      "incomeSnapshotFrame" -> Pipelines.incomeSnapshotFrame _,
      "leaderboardFrame" -> Pipelines.leaderboardFrame _,
      "indexEpochAprFrame" -> Pipelines.indexEpochAprFrame _)
    for ((name, frame) <- frames) {
      val sorts = aqeFinalNodes(frame(spark, sfDir)).collect { case s: SortExec => s }
      assert(sorts.nonEmpty, s"$name: plan walk found not even its window sort")
      assert(!sorts.exists(_.global), s"$name sorts globally:\n${sorts.mkString("\n")}")
    }
  }

  test("serving dimension cache changes no results, only the physical source") {
    // Every served endpoint, compared as ORDERED row sequences: the
    // response order is produced at the response edge, with or without
    // the caches underneath.
    def outputs(): Map[String, Seq[Seq[Any]]] = served.map(q =>
      q -> SparkEntry.queries(q)(spark, sfDir).collect().map(_.toSeq).toSeq).toMap
    val cold = outputs()
    spark.conf.set("spark.graft.serving.cacheDims", "true")
    spark.conf.set("spark.graft.serving.cacheIncome", "true")
    try {
      val warm = outputs()
      val drifted = served.filter(q => warm(q) != cold(q))
      assert(drifted.isEmpty, s"serving caches drifted results of: ${drifted.mkString(", ")}")
      val empty = served.filter(q => cold(q).isEmpty)
      assert(empty.isEmpty, s"vacuous comparison, no rows from: ${empty.mkString(", ")}")
      // and the dims genuinely became in-memory relations
      val nodes = collectAllPlans(graft.model.Tables.customer(spark, sfDir)
        .queryExecution.executedPlan)
      assert(nodes.exists(_.nodeName.toLowerCase.contains("inmemory")),
        s"customer dim not served from cache: ${nodes.map(_.nodeName)}")
      // the income snapshot is served from the materialized frame too
      val incNodes = collectAllPlans(graft.ops.IncomeKernel
        .servingIncome(spark, sfDir).queryExecution.executedPlan)
      assert(incNodes.exists(_.nodeName.toLowerCase.contains("inmemory")),
        s"income not served from the materialization: ${incNodes.map(_.nodeName)}")
    } finally {
      spark.conf.unset("spark.graft.serving.cacheDims")
      spark.conf.unset("spark.graft.serving.cacheIncome")
      spark.sharedState.cacheManager.clearCache()
    }
  }

  test("savETH index-name override: liquid name wins, solo fills the rest") {
    val got = ServingEndpoints.savethIndexNames(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got.values.forall(n => n.startsWith("solo_") || n.startsWith("liquid_")))
    assert(got.values.exists(_.startsWith("liquid_")), "no liquid override applied")
    assert(got.values.exists(_.startsWith("solo_")), "override clobbered the base dim")
  }
}
