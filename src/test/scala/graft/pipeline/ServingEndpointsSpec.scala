package graft.pipeline

import graft.{QueryKind, SparkEntry, SparkSpec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
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

  private val served = SparkEntry.ofKind(QueryKind.Endpoint)

  test("the served endpoint mix: 24 registered endpoints, every api_handler query among them") {
    assert(served.size == 24)
    assert(ServingEndpoints.queries.keySet.subsetOf(served.toSet))
    val unserved = endpointMap.values.toSet -- served.toSet
    assert(unserved.isEmpty, s"api_handler endpoints the serving mix skips: $unserved")
  }

  test("new endpoint plans: no cartesian; nested-loop only as 1-row broadcast cross") {
    val dir = "/root/testdata/sf0.001"
    for (name <- ServingEndpoints.queries.keys) {
      val plan = ServingEndpoints.queries(name)(spark, dir).queryExecution.executedPlan
      val nodes = collectAllPlans(plan)
      assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), s"$name has a cartesian")
      nodes.collect { case b: BroadcastNestedLoopJoinExec => b }.foreach { b =>
        assert(b.joinType.sql == "CROSS", s"$name: non-cross nested loop join")
        // The broadcast side must be an aggregate-produced frontier (a
        // global agg emits exactly one row) — never a table scan.
        val broadcastSide = if (b.buildSide.toString.contains("Right")) b.right else b.left
        val aggy = collectAllPlans(broadcastSide).exists(
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

  private val servingCaches = Seq("spark.graft.serving.cacheDims", "spark.graft.serving.cacheIncome")

  /** Runs `body` in `s` with both serving caches on, then clears them. */
  private def withServingCaches[T](s: SparkSession)(body: => T): T = {
    servingCaches.foreach(s.conf.set(_, "true"))
    try body
    finally {
      servingCaches.foreach(s.conf.unset)
      s.sharedState.cacheManager.clearCache()
    }
  }

  test("serving dimension cache changes no results, only the physical source") {
    // Every served endpoint, compared as ORDERED row sequences: the
    // response order is produced at the response edge, with or without
    // the caches underneath.
    def outputs(s: SparkSession): Map[String, Seq[Seq[Any]]] = served.map(q =>
      q -> SparkEntry.queries(q)(s, sfDir).collect().map(_.toSeq).toSeq).toMap
    def incomePlan(s: SparkSession) =
      graft.ops.IncomeKernel.servingIncome(s, sfDir).queryExecution.executedPlan
    // the scan of the cached income (under AQE, the root reports no partitioning)
    def incomeLayout(s: SparkSession) = collectAllPlans(incomePlan(s))
      .collectFirst { case m: InMemoryTableScanExec => m.outputPartitioning }
    val cold = outputs(spark)
    val empty = served.filter(q => cold(q).isEmpty)
    assert(empty.isEmpty, s"vacuous comparison, no rows from: ${empty.mkString(", ")}")
    def assertNoDrift(warm: Map[String, Seq[Seq[Any]]], layout: String): Unit = {
      val drifted = served.filter(q => warm(q) != cold(q))
      assert(drifted.isEmpty, s"serving caches ($layout) drifted results of: ${drifted.mkString(", ")}")
    }
    withServingCaches(spark) {
      assertNoDrift(outputs(spark), "one-partition layout")
      // and the dims genuinely became in-memory relations
      val nodes = collectAllPlans(graft.model.Tables.customer(spark, sfDir)
        .queryExecution.executedPlan)
      assert(nodes.exists(_.nodeName.toLowerCase.contains("inmemory")),
        s"customer dim not served from cache: ${nodes.map(_.nodeName)}")
      // the income snapshot is served from the materialization, in one partition
      val incNodes = collectAllPlans(incomePlan(spark))
      assert(incNodes.exists(_.nodeName.toLowerCase.contains("inmemory")),
        s"income not served from the materialization: ${incNodes.map(_.nodeName)}")
      assert(incomeLayout(spark).contains(SinglePartition),
        s"cached income not in one partition: ${incomeLayout(spark)}")
    }
    // The same caches with the layout gated off: the frames keep the
    // partitioning of the plans that built them, and answers stay equal.
    val gatedOff = spark.newSession()
    gatedOff.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    withServingCaches(gatedOff) {
      assertNoDrift(outputs(gatedOff), "build layout")
      assert(incomeLayout(gatedOff).exists(_ != SinglePartition),
        s"the gate is off, yet the cached income is laid out as ${incomeLayout(gatedOff)}")
    }
  }

  test("with both serving caches on, every endpoint that reads no raw table plans no shuffle") {
    withServingCaches(spark) {
      val plans = served.map(q => q -> aqeFinalNodes(SparkEntry.queries(q)(spark, sfDir)))
      // derived from the plans: the endpoints whose every source is a cached frame
      val cachedOnly = plans.filterNot(_._2.exists(_.isInstanceOf[FileSourceScanExec]))
      info(s"${cachedOnly.size} of ${plans.size} endpoints read only cached state")
      assert(cachedOnly.size >= 17,
        s"only ${cachedOnly.size} endpoints read cached state alone: ${cachedOnly.map(_._1)}")
      val shuffled = cachedOnly.collect {
        case (q, nodes) if nodes.exists(_.isInstanceOf[ShuffleExchangeExec]) => q
      }
      assert(shuffled.isEmpty, s"shuffle over the cached serving state in: ${shuffled.mkString(", ")}")
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
