package graft.pipeline

import graft.model.Tables
import graft.ops.{IncomeKernel, WindowOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The rest of the reference's serving API surface, restated as oracled
  * batch pipelines over the fixture tables — with [[Pipelines]] this covers
  * all 23 `handle_request_*` endpoints of
  * /root/reference/src/api_handler.py. Same stand-ins as [[Pipelines]]:
  * c_mktsegment = savETH index, c_nationkey = LSD index, events.purchase
  * rows = withdrawals, day-grain epoch = slot/epoch, c_acctbal/1e4 = top-up.
  * Point-lookup endpoints are restated for EVERY key at once (the batch
  * form a serving cache would materialize); literal request parameters
  * become bounds relative to the data's frontier so the fixtures exercise
  * them deterministically.
  */
object ServingEndpoints {

  import Pipelines.{dayEpoch, epochExpr, incomeCte, respond}

  private def income(spark: SparkSession, dir: String): DataFrame =
    IncomeKernel.servingIncome(spark, dir)

  /** Latest observed balance per key (row_number over epoch desc — the
    * beacon "current balance" analog shared by the LSD-score and PoN
    * eligibility endpoints).
    */
  private def latestBalance(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("epoch").desc)
    WindowOps.balancesFromEvents(spark, dir)
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("user_id"), col("balance"))
  }

  /** Each key's MAX(losses) from the income table — the
    * validator_slashing lookup (reference:
    * /root/reference/src/api_handler.py:25-30), keyed `s_user` so callers
    * can left-join it against their own user_id column.
    */
  private def maxLosses(spark: SparkSession, dir: String): DataFrame =
    income(spark, dir)
      .groupBy(col("user_id").as("s_user")).agg(max(col("losses")).as("_ml"))

  /** The /indexdETHEarned endpoint (reference:
    * /root/reference/src/api_handler.py:399-411 + dETHEarning_Index
    * :133-138): SUM(earnings) of an index's members AT the index's latest
    * materialized epoch — the nested max-epoch join restated for every
    * index in one plan. The per-index max is a partial-aggregating
    * groupBy broadcast back to the fact side — NOT a window partitioned
    * by the handful of index values, which would funnel the whole income
    * frame through as many reducers as there are indexes.
    */
  def indexDethEarned(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
    val joined = income(spark, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
    val latest = joined.groupBy(col("c_mktsegment").as("m_idx"))
      .agg(max(col("epoch")).as("_m"))
    joined
      .join(broadcast(latest),
        col("c_mktsegment") === col("m_idx") && col("epoch") === col("_m"))
      .groupBy(col("c_mktsegment").as("idx"))
      .agg(max(col("epoch")).as("at_epoch"),
        round(sum(col("earnings")), 6).as("deth_earned"))
      .transform(respond("idx"))
  }

  /** The /indexValidators endpoint (reference:
    * /root/reference/src/api_handler.py:413-454): an index's keys, each
    * with its threat-monitoring triple — defaulting to (1,1,1) for keys
    * the monitor has not seen (:439-440) — and the in-subgraph membership
    * flag (:442-447). supplier keyed by s_suppkey stands in for
    * Validator_Threat_Monitoring (deterministic derived triple); presence
    * in the events fact stands in for subgraph membership.
    */
  def indexValidators(spark: SparkSession, dir: String): DataFrame = {
    val keys = Tables.customer(spark, dir)
      .select(col("c_mktsegment").as("idx"), col("c_custkey").as("bls_key"))
    val threat = Tables.supplier(spark, dir).select(col("s_suppkey"),
      round(col("s_acctbal"), 6).as("_backing"),
      (col("s_nationkey") % 2).as("_same_pos"),
      round(col("s_acctbal") / 2, 6).as("_balance"))
    val active = Tables.events(spark, dir).select(col("user_id")).distinct()
    keys
      .join(broadcast(threat), col("bls_key") === col("s_suppkey"), "left_outer")
      .join(active, col("bls_key") === col("user_id"), "left_outer")
      .select(col("idx"), col("bls_key"),
        coalesce(col("_backing"), lit(1.0)).as("deth_backing"),
        coalesce(col("_same_pos"), lit(1)).cast("int").as("same_position"),
        coalesce(col("_balance"), lit(1.0)).as("deth_balance"),
        when(col("user_id").isNotNull, 1).otherwise(0).cast("int").as("in_subgraph"))
      .transform(respond("idx", "bls_key"))
  }

  /** The /validatorLSDScore endpoint (reference:
    * /root/reference/src/api_handler.py:457-482): the balance-tier score
    * (eff < cap → 2; cap-adjacent band → 1; else 0, :470-475) plus
    * `max(0, slashing - top_ups)` (:480) where slashing is the key's
    * MAX(losses) (validator_slashing, :25-30). Thresholds are
    * fixture-scaled (96 ≈ 3×32-ETH cap at the fixtures' balance
    * magnitude); losses carry the /1e3 unit scaling used throughout.
    *
    * NOTE on band position: the reference's tier-1 band sits BELOW the cap
    * (31.75e9 < balance < 32e9 with effective_balance pinned at cap,
    * :468-474) because mainnet balances cluster just under 32 ETH. The
    * fixtures have a single balance column with no effective-balance cap
    * semantics, so the mapping deliberately INVERTS the band to sit above
    * the tier-2 threshold (96 < balance < 98): tier-2 = below 96, tier-1 =
    * the adjacent band, tier-0 = the rest — preserving the reference's
    * three-tier partition (far side / adjacent band / rest) rather than its
    * absolute geometry. A balance of exactly 96.0 scores 0, as in the
    * reference where balance exactly at the band edge falls out of both
    * tiers.
    */
  def validatorLsdScore(spark: SparkSession, dir: String): DataFrame = {
    val topUp = Tables.customer(spark, dir)
      .select(col("c_custkey"), round(col("c_acctbal") / 1e4, 6).as("top_up"))
    latestBalance(spark, dir)
      .join(maxLosses(spark, dir), col("user_id") === col("s_user"), "left_outer")
      .join(broadcast(topUp), col("user_id") === col("c_custkey"))
      .select(col("user_id"),
        when(col("balance") < 96.0, 2)
          .when(col("balance") < 98.0 && col("balance") > 96.0, 1)
          .otherwise(0).cast("int").as("validator_score"),
        round(greatest(lit(0.0), coalesce(col("_ml"), lit(0.0)) / 1e3 - col("top_up")), 6)
          .as("top_ups"))
      .transform(respond("user_id"))
  }

  /** The /indexRedemptionRate endpoint (reference:
    * /root/reference/src/api_handler.py:484-515): per index over its keys'
    * groupwise-max earnings/losses — live redemption rate, and the
    * red/Amber/green colour tier from live/exchange (:500-509).
    * c_nationkey is the index here (25 groups exercise all three tiers;
    * the 5 segments are too homogeneous) and slashing carries a /150
    * fixture scaling so the live/exchange ratio spans the reference's
    * 1.1/1.25 colour thresholds. Both rates are 6-dp canonicalized BEFORE
    * the ratio so the tier compare sees identical doubles in either
    * engine.
    */
  def indexRedemptionRate(spark: SparkSession, dir: String): DataFrame = {
    val perKey = income(spark, dir).groupBy("user_id")
      .agg(max(col("earnings")).as("_e"), max(col("losses")).as("_l"))
    val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"),
      round(col("c_acctbal") / 1e4, 6).as("top_up"))
    perKey
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("idx"))
      .agg(count(lit(1)).as("_n"),
        round(sum(col("_e")), 6).as("_deth"),
        round(sum(col("_l")), 6).as("_slash"),
        round(sum(col("top_up")), 6).as("_tops"))
      .withColumn("redemption_rate",
        round((lit(24.0) * col("_n") + col("_deth") / 1e3)
          / (lit(8.0) * col("_n") - col("_slash") / 150 + col("_tops")), 6))
      .withColumn("_exch",
        round((lit(24.0) * col("_n") + col("_deth") / 1e3) / (lit(8.0) * col("_n")), 6))
      .select(col("idx"), col("redemption_rate"),
        when(col("redemption_rate") / col("_exch") > 1.25, "red")
          .when(col("redemption_rate") / col("_exch") > 1.1, "Amber")
          .otherwise("green").as("colour"))
      .transform(respond("idx"))
  }

  /** The /savETHIndexNames endpoint (reference:
    * /root/reference/src/api_handler.py:517-530): the solo-staker name
    * dimension OVERLAID by the staker names for the liquid indexes — a
    * dimension merge with override (last-write-wins at the serving edge).
    * nation is the dimension; membership of its region in ASIA stands in
    * for the liquid_index() set.
    */
  def savethIndexNames(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val liquid = nation
      .join(broadcast(Tables.region(spark, dir).where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("l_idx"),
        concat(lit("liquid_"), col("n_name")).as("_liquid_name"))
    nation
      .select(col("n_nationkey").as("idx"),
        concat(lit("solo_"), col("n_name")).as("_solo_name"))
      .join(broadcast(liquid), col("idx") === col("l_idx"), "left_outer")
      .select(col("idx"), coalesce(col("_liquid_name"), col("_solo_name")).as("index_name"))
      .transform(respond("idx"))
  }

  /** The /mevWatchInfo endpoint (reference:
    * /root/reference/src/api_handler.py:533-550): block stats for the
    * trailing 24 hours — the [now-24h, now] window restated against the
    * data's own frontier (max ts) so the query is deterministic. The
    * frontier is a 1-row broadcast; second-grain comparison keeps the
    * boundary identical across engines.
    */
  def mevWatchInfo(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"), unix_timestamp(col("ts")).as("_sec"))
    val frontier = ev.agg(max(col("_sec")).as("_mx"))
    ev.crossJoin(broadcast(frontier))
      .where(col("_sec") >= col("_mx") - 86400L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_blocks"), round(sum(col("value")), 6).as("total_value"))
      .transform(respond("event_type"))
  }

  /** The /indexLeaderboard endpoint (reference:
    * /root/reference/src/api_handler.py:552-580 + indexes_apr :179-202):
    * every index's latest materialized APR row ([[Pipelines.indexEpochAprFrame]]
    * is the Validator_Indexes_APR analog), its earnings at that epoch in
    * whole units (the reference's /1e9, here /1e3 in exact micro-unit
    * arithmetic — cumulative earnings are non-negative so half-up `div`
    * agrees with DuckDB `//`), the index's validator count, and the
    * staker-membership flag (0 when the index belongs to a staker,
    * :574-578). The staker set arrives from OUTSIDE the query in the
    * reference (a subgraph response) — a literal IN-list is the faithful
    * mapping, and it splits the flag at every scale factor.
    */
  def indexLeaderboard(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("idx").orderBy(col("epoch").desc)
    val latest = Pipelines.indexEpochAprFrame(spark, dir)
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .withColumn("_em", round(col("earnings") * 1e6).cast("long"))
      .select(col("idx"), col("apr"),
        (expr("(_em * 2 + 1000) div 2000").cast("double") / 1e6).as("deth_earned"))
    val dim = Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment").as("c_idx"))
      .agg(count(lit(1)).as("n_validators"))
    latest.join(broadcast(dim), col("idx") === col("c_idx"))
      .select(col("idx"), col("apr"), col("deth_earned"), col("n_validators"),
        when(col("idx").isin("AUTOMOBILE", "FURNITURE", "MACHINERY"), 0)
          .otherwise(1).cast("int").as("validators_flag"))
      .transform(respond("idx"))
  }

  /** The /validatorWithdrawalsLowerSlot endpoint (reference:
    * /root/reference/src/api_handler.py:828-839 + :256-261): withdrawals
    * with slot BETWEEN bounds, for every key at once; the literal bounds
    * become a window anchored at the withdrawal frontier. The withdrawal
    * index is carried through so the page is cursor-stable like
    * [[Pipelines.validatorSlotWithdrawals]].
    */
  def withdrawalsSlotRange(spark: SparkSession, dir: String): DataFrame = {
    val wd = Pipelines.withdrawalsWithIndex(spark, dir, "slot")
    val frontier = wd.agg(max(col("slot")).as("_hi"))
    wd.crossJoin(broadcast(frontier))
      .where(col("slot") >= col("_hi") - 5 && col("slot") <= col("_hi") - 2)
      .select("user_id", "widx", "slot", "amount")
      .transform(respond("user_id", "widx"))
  }

  /** The /validatorWithdrawalsLowerUpperSlot endpoint (reference:
    * /root/reference/src/api_handler.py:841-850 + :263-270): each key's
    * withdrawal slot envelope — MAX(slot), MIN(slot) — the grouped
    * min/max at the serving edge.
    */
  def withdrawalsSlotBounds(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(dayEpoch).as("max_slot"), min(dayEpoch).as("min_slot"))
      .transform(respond("user_id"))

  /** The /ponBlsKey endpoint (reference:
    * /root/reference/src/api_handler.py:852-867): the eligibility
    * predicate — balance at the cap AND never slashed — restated per key:
    * latest balance ≥ the (fixture-scaled) cap and zero cumulative
    * losses. Losses are exact zeros when no negative delta ever occurred,
    * so the equality is engine-stable.
    */
  def ponEligibility(spark: SparkSession, dir: String): DataFrame =
    latestBalance(spark, dir)
      .join(maxLosses(spark, dir), col("user_id") === col("s_user"), "left_outer")
      .select(col("user_id"),
        when(col("balance") >= 96.0 && coalesce(col("_ml"), lit(0.0)) === 0.0,
          "Validator Eligible").otherwise("Validator Not Eligible").as("eligibility"))
      .transform(respond("user_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_index_deth_earned" -> (indexDethEarned _),
    "pipe_index_validators" -> (indexValidators _),
    "pipe_validator_lsd_score" -> (validatorLsdScore _),
    "pipe_index_redemption_rate" -> (indexRedemptionRate _),
    "pipe_saveth_index_names" -> (savethIndexNames _),
    "pipe_mev_watch" -> (mevWatchInfo _),
    "pipe_index_leaderboard" -> (indexLeaderboard _),
    "pipe_withdrawals_slot_range" -> (withdrawalsSlotRange _),
    "pipe_withdrawals_slot_bounds" -> (withdrawalsSlotBounds _),
    "pipe_pon_eligibility" -> (ponEligibility _))

  val oracles: Map[String, String] = Map(
    "pipe_index_deth_earned" ->
      s"""$incomeCte, j AS (
         |  SELECT c_mktsegment, epoch, earnings
         |  FROM apr JOIN customer ON user_id = c_custkey),
         |m AS (SELECT c_mktsegment, max(epoch) AS m FROM j GROUP BY 1)
         |SELECT j.c_mktsegment AS idx, max(j.epoch) AS at_epoch,
         |       round(sum(earnings), 6) AS deth_earned
         |FROM j JOIN m ON j.c_mktsegment = m.c_mktsegment AND j.epoch = m.m
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "pipe_index_validators" ->
      """WITH threat AS (
        |  SELECT s_suppkey, round(s_acctbal, 6) AS backing,
        |         s_nationkey % 2 AS same_pos, round(s_acctbal / 2, 6) AS bal
        |  FROM supplier),
        |active AS (SELECT DISTINCT user_id FROM events)
        |SELECT c_mktsegment AS idx, c_custkey AS bls_key,
        |       coalesce(backing, 1.0) AS deth_backing,
        |       CAST(coalesce(same_pos, 1) AS INTEGER) AS same_position,
        |       coalesce(bal, 1.0) AS deth_balance,
        |       CAST(CASE WHEN user_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
        |         AS in_subgraph
        |FROM customer
        |LEFT JOIN threat ON c_custkey = s_suppkey
        |LEFT JOIN active ON c_custkey = user_id
        |ORDER BY idx, bls_key""".stripMargin,
    "pipe_validator_lsd_score" ->
      s"""$incomeCte, latest AS (
         |  SELECT user_id, balance,
         |         row_number() OVER (PARTITION BY user_id ORDER BY epoch DESC) AS rn
         |  FROM bal),
         |slash AS (SELECT user_id, max(losses) AS ml FROM apr GROUP BY user_id)
         |SELECT l.user_id,
         |       CAST(CASE WHEN balance < 96.0 THEN 2
         |                 WHEN balance < 98.0 AND balance > 96.0 THEN 1
         |                 ELSE 0 END AS INTEGER) AS validator_score,
         |       round(greatest(0.0, coalesce(ml, 0.0) / 1e3
         |             - round(c_acctbal / 1e4, 6)), 6) AS top_ups
         |FROM latest l
         |LEFT JOIN slash s ON l.user_id = s.user_id
         |JOIN customer ON l.user_id = c_custkey
         |WHERE rn = 1 ORDER BY l.user_id""".stripMargin,
    "pipe_index_redemption_rate" ->
      s"""$incomeCte, per_key AS (
         |  SELECT user_id, max(earnings) AS e, max(losses) AS l
         |  FROM apr GROUP BY user_id),
         |g AS (
         |  SELECT c_nationkey AS idx, count(*) AS n,
         |         round(sum(e), 6) AS deth, round(sum(l), 6) AS slash,
         |         round(sum(round(c_acctbal / 1e4, 6)), 6) AS tops
         |  FROM per_key JOIN customer ON user_id = c_custkey GROUP BY 1),
         |r AS (
         |  SELECT idx,
         |         round((24.0 * n + deth / 1e3)
         |               / (8.0 * n - slash / 150 + tops), 6) AS redemption_rate,
         |         round((24.0 * n + deth / 1e3) / (8.0 * n), 6) AS exch
         |  FROM g)
         |SELECT idx, redemption_rate,
         |       CASE WHEN redemption_rate / exch > 1.25 THEN 'red'
         |            WHEN redemption_rate / exch > 1.1 THEN 'Amber'
         |            ELSE 'green' END AS colour
         |FROM r ORDER BY idx""".stripMargin,
    "pipe_saveth_index_names" ->
      """WITH liquid AS (
        |  SELECT n_nationkey AS l_idx, concat('liquid_', n_name) AS liquid_name
        |  FROM nation JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA')
        |SELECT n_nationkey AS idx,
        |       coalesce(liquid_name, concat('solo_', n_name)) AS index_name
        |FROM nation LEFT JOIN liquid ON n_nationkey = l_idx
        |ORDER BY idx""".stripMargin,
    "pipe_mev_watch" ->
      """WITH ev AS (
        |  SELECT event_type, value,
        |         CAST(floor(date_part('epoch', ts)) AS BIGINT) AS sec
        |  FROM events),
        |f AS (SELECT max(sec) AS mx FROM ev)
        |SELECT event_type, count(*) AS n_blocks, round(sum(value), 6) AS total_value
        |FROM ev CROSS JOIN f
        |WHERE sec >= mx - 86400
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "pipe_index_leaderboard" ->
      s"""WITH base AS (${Pipelines.indexEpochAprOracle}),
         |latest AS (
         |  SELECT idx, apr,
         |         CAST((CAST(round(earnings * 1e6) AS BIGINT) * 2 + 1000) // 2000
         |              AS DOUBLE) / 1e6 AS deth_earned,
         |         row_number() OVER (PARTITION BY idx ORDER BY epoch DESC) AS rn
         |  FROM base),
         |dim AS (
         |  SELECT c_mktsegment AS c_idx, count(*) AS n_validators
         |  FROM customer GROUP BY 1)
         |SELECT idx, apr, deth_earned, n_validators,
         |       CAST(CASE WHEN idx IN ('AUTOMOBILE', 'FURNITURE', 'MACHINERY')
         |                 THEN 0 ELSE 1 END AS INTEGER) AS validators_flag
         |FROM latest JOIN dim ON idx = c_idx
         |WHERE rn = 1 ORDER BY idx""".stripMargin,
    "pipe_withdrawals_slot_range" ->
      s"""WITH wd AS (
         |  SELECT user_id, event_id, $epochExpr AS slot, round(value, 6) AS amount,
         |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id)
         |              AS BIGINT) AS widx
         |  FROM events WHERE event_type = 'purchase'),
         |f AS (SELECT max(slot) AS hi FROM wd)
         |SELECT user_id, widx, slot, amount
         |FROM wd CROSS JOIN f
         |WHERE slot >= hi - 5 AND slot <= hi - 2
         |ORDER BY user_id, widx""".stripMargin,
    "pipe_withdrawals_slot_bounds" ->
      s"""SELECT user_id, max($epochExpr) AS max_slot, min($epochExpr) AS min_slot
         |FROM events WHERE event_type = 'purchase'
         |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "pipe_pon_eligibility" ->
      s"""$incomeCte, latest AS (
         |  SELECT user_id, balance,
         |         row_number() OVER (PARTITION BY user_id ORDER BY epoch DESC) AS rn
         |  FROM bal),
         |slash AS (SELECT user_id, max(losses) AS ml FROM apr GROUP BY user_id)
         |SELECT l.user_id,
         |       CASE WHEN balance >= 96.0 AND coalesce(ml, 0.0) = 0.0
         |            THEN 'Validator Eligible'
         |            ELSE 'Validator Not Eligible' END AS eligibility
         |FROM latest l LEFT JOIN slash s ON l.user_id = s.user_id
         |WHERE rn = 1 ORDER BY l.user_id""".stripMargin)
}
