package graft.pipeline

import graft.model.Tables
import graft.ops.{ArtifactMeta, IncomeKernel, Steps, WindowOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end restatements of the reference's three lifecycle pipelines
  * (SURVEY.md §3), composed from the operator library. The Lambda/SQS/MySQL
  * choreography collapses into single DataFrame plans: each pipeline is one
  * job with one or two shuffles, all partitioned by the entity key.
  */
object Pipelines {

  private[pipeline] val dayEpoch = floor(unix_timestamp(col("ts")) / 86400L)

  /** The response edge of a served endpoint ([[endpoints]] and
    * [[ServingEndpoints.queries]]), applied as its last step with
    * `.transform(respond(keys: _*))`: gather the response-sized result into
    * one partition and sort it there. A global `orderBy` plans a
    * range-partitioned exchange — a sampling job for the bounds, a shuffle,
    * then a sort — to order rows the client collects anyway. `coalesce(1)`
    * also runs the stage that feeds it as one task, which is intended at
    * response size. Frames that other endpoints compose stay unordered
    * (the `*Frame` functions), so no composed endpoint sorts twice; ETL
    * steps whose outputs are not response-sized keep their `orderBy`.
    */
  private[pipeline] def respond(keys: String*)(df: DataFrame): DataFrame =
    df.coalesce(1).sortWithinPartitions(keys.map(col): _*)

  /** §3.1 extract-catchup: for every key, enumerate the epochs between its
    * last synced epoch and the finalized epoch, capped at 10 per run
    * (reference: /root/reference/src/extract_handler.py:54-90,139-167).
    * The SQS fan-out + sha256 dedup ids + chunking disappear into Spark
    * partitioning; what remains is the work-unit table.
    */
  def extractCatchup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val finalized = ev.agg(max(dayEpoch).as("finalized_epoch"))
    val lastSynced = ev.groupBy("user_id").agg(max(dayEpoch).as("last_epoch"))
    val w = Window.partitionBy("user_id").orderBy("epoch")
    lastSynced
      .crossJoin(broadcast(finalized))
      .where(col("last_epoch") < col("finalized_epoch"))
      .select(col("user_id"),
        explode(sequence(col("last_epoch") + 1, col("finalized_epoch"))).as("epoch"))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= 10) // EPOCHS_PER_VALIDATOR_LIMIT
      .select("user_id", "epoch")
      .orderBy("user_id", "epoch")
  }

  /** §3.2 income derivation: balances ⟕ withdrawals → cumulative income
    * kernel → latest-row snapshot (the Validator_Earnings_Interface analog,
    * reference: /root/reference/src/validator_income_handler.py +
    * validator_earnings_handler.py:17-49). The warm/cold split vanishes:
    * every key starts from its first observed epoch in one window pass.
    */
  def incomeSnapshot(spark: SparkSession, dir: String): DataFrame =
    incomeSnapshotFrame(spark, dir).transform(respond("user_id"))

  private[pipeline] def incomeSnapshotFrame(spark: SparkSession, dir: String): DataFrame = {
    val income = IncomeKernel.servingIncome(spark, dir)
    val w = Window.partitionBy("user_id").orderBy(col("epoch").desc)
    income
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(col("user_id"), col("epoch").as("latest_epoch"),
        col("earnings"), col("losses"), col("apr"))
  }

  /** §3.3 leaderboard serving: per-key income joined to the broadcast
    * entity dimension, per-group means, ranked output
    * (reference: /root/reference/src/api_handler.py:272-310 — /leaderboard
    * and /topIndexes). customer.c_mktsegment stands in for savETHIndex.
    */
  def leaderboard(spark: SparkSession, dir: String): DataFrame =
    leaderboardFrame(spark, dir).transform(respond("rank"))

  private[pipeline] def leaderboardFrame(spark: SparkSession, dir: String): DataFrame = {
    val snapshot = incomeSnapshotFrame(spark, dir)
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val w = Window.orderBy(col("sum_earnings").desc, col("c_mktsegment").asc)
    snapshot
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        sum(round(col("apr") * 1e6).cast("long")).as("_k"),
        round(sum(col("earnings")), 6).as("sum_earnings"),
        round(sum(col("losses")), 6).as("sum_losses"),
        count(lit(1)).as("n_validators"))
      // exact integer micro-unit average — see userIncome for why
      .withColumn("avg_apr",
        expr("(_k * 2 + n_validators) div (n_validators * 2)").cast("double") / 1e6)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select("rank", "c_mktsegment", "avg_apr", "sum_earnings", "sum_losses", "n_validators")
  }

  /** The /userIncome endpoint composition (reference:
    * /root/reference/src/api_handler.py:591-652): a user's portfolio =
    * per-epoch AVG(apr) across their validators, joined to latest earnings
    * and a left-outer "threat monitoring" default (OP-29 + OP-20 + OP-26 +
    * OP-53 in one plan). supplier acctbal per nation stands in for the
    * threat table.
    */
  def userIncome(spark: SparkSession, dir: String): DataFrame = {
    val income = IncomeKernel.servingIncome(spark, dir)
    // avg of 6-dp values lands exactly on half-way rounding points whenever
    // sum*1e6 ≡ n/2 (mod n); float noise would then flip the 6th decimal
    // between engines. Average in exact integer micro-units instead:
    // round-half-up(K/n) = (2K + n) div 2n.
    val perEpoch = income.groupBy("epoch")
      .agg(
        sum(round(col("apr") * 1e6).cast("long")).as("_k"),
        count(lit(1)).as("_n"))
      .select(col("epoch"),
        expr("(_k * 2 + _n) div (_n * 2)").as("_micro"))
      .select(col("epoch"), (col("_micro").cast("double") / 1e6).as("portfolio_apr"))
    val w = Window.partitionBy("user_id").orderBy(col("epoch").desc)
    val latest = income
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("user_id"), col("epoch"), col("earnings"))
    val threat = Tables.customer(spark, dir)
      .join(Tables.supplier(spark, dir), col("c_nationkey") === col("s_nationkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(round(coalesce(sum(col("s_acctbal")), lit(1.0)), 6).as("threat_backing"))
    latest
      .join(perEpoch, "epoch")
      // threat is one row per customer, a dimension: broadcast it, so the
      // one-partition serving income is not re-shuffled for a merge join
      // (see graft.ops.SessionFrames)
      .join(broadcast(threat), col("user_id") === col("c_custkey"), "left_outer")
      .select(col("user_id"), col("epoch").as("latest_epoch"), col("earnings"),
        col("portfolio_apr"),
        round(coalesce(col("threat_backing"), lit(1.0)), 6).as("threat_backing"))
      .transform(respond("user_id"))
  }

  /** Daily APR rollup (reference: /root/reference/src/apr_sync_handler.py
    * :17-27,64-72): trailing-window earnings delta per key per day with the
    * minimum-history gate, materialized like Validator_Daily_APR.
    */
  def dailyApr(spark: SparkSession, dir: String): DataFrame = {
    val income = IncomeKernel.servingIncome(spark, dir)
    val w = Window.partitionBy("user_id").orderBy(col("epoch").desc)
    income
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= 7) // trailing window (1575-epoch analog at day grain)
      .groupBy("user_id")
      .agg(
        round(max(col("earnings")) - min(col("earnings")), 6).as("window_earnings"),
        round(max(col("losses")) - min(col("losses")), 6).as("window_losses"),
        count(lit(1)).as("n"))
      .where(col("n") >= 5) // MINIMUM_EPOCH_LEADERBOARD analog
      .select(col("user_id"), col("window_earnings"), col("window_losses"),
        IncomeKernel.aprColumn(col("window_earnings"), col("n") - 1).as("apr"), col("n"))
      .transform(respond("user_id"))
  }

  /** Cross-source watermark alignment (SURVEY.md §7.5#2): the safe upper
    * processing bound per key is min(max balance-source epoch, max
    * withdrawal-source epoch) — processing past the slower source would
    * book deltas against missing withdrawals (reference:
    * /root/reference/src/validator_income_handler.py:179,201).
    */
  def watermarkAlign(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val balanceMax = ev.groupBy("user_id").agg(max(dayEpoch).as("balance_max"))
    val purchaseMax = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id").as("p_user")).agg(max(dayEpoch).as("withdrawal_max"))
    balanceMax
      .join(purchaseMax, col("user_id") === col("p_user"), "left_outer")
      .select(col("user_id"), col("balance_max"),
        col("withdrawal_max"),
        least(col("balance_max"), coalesce(col("withdrawal_max"), col("balance_max")))
          .as("safe_upper_bound"))
      .orderBy("user_id")
  }

  /** Salted hot-key aggregation surfaced as a query: must equal the plain
    * GROUP BY sum (the oracle is the UNSALTED query — equivalence is the
    * whole point of [[graft.ops.Skew]]).
    */
  def saltedSum(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Skew.saltedSum(Tables.events(spark, dir), "user_id", "value", out = "_raw")
      .select(col("user_id"), round(col("_raw"), 6).as("total_value"))
      .orderBy("user_id")

  /** The /topIndexes endpoint: the leaderboard groups ranked three ways in
    * one pass (reference: /root/reference/src/api_handler.py:306-310 —
    * "top7" by earnings / losses / APR). The board is unpivoted into one
    * (metric, value) row per group and metric, and one window partitioned
    * by metric ranks all three: the board, and the income pipeline under
    * it, is evaluated once, in plan, with no driver round-trip.
    */
  def topIndexes(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("metric")
      .orderBy(col("metric_value").desc, col("c_mktsegment").asc)
    leaderboardFrame(spark, dir)
      .select(col("c_mktsegment"), expr("stack(3, " +
        "'sum_earnings', sum_earnings, 'sum_losses', sum_losses, 'avg_apr', avg_apr)" +
        " as (metric, metric_value)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 7)
      .select("metric", "rank", "c_mktsegment", "metric_value")
      .transform(respond("metric", "rank"))
  }

  /** The index_epoch_apr derivation: per-(group, epoch) multi-agg over the
    * composite-key join of income and membership, then the neighbor spike
    * filter (reference: /root/reference/src/index_epoch_apr_handler.py:48-93;
    * OP-22 + OP-30 + OP-19 composed). c_mktsegment again stands in for the
    * index.
    */
  def indexEpochApr(spark: SparkSession, dir: String): DataFrame =
    indexEpochAprFrame(spark, dir).transform(respond("idx", "epoch"))

  private[pipeline] def indexEpochAprFrame(spark: SparkSession, dir: String): DataFrame = {
    val income = IncomeKernel.servingIncome(spark, dir)
    val dim = Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment"))
    val grouped = income
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("idx"), col("epoch"))
      .agg(
        sum(round(col("apr") * 1e6).cast("long")).as("_k"),
        count(lit(1)).as("_n"),
        round(sum(col("earnings")), 6).as("earnings"),
        round(sum(col("losses")), 6).as("losses"))
      // exact integer micro-unit average — see userIncome for why
      .withColumn("apr", expr("(_k * 2 + _n) div (_n * 2)").cast("double") / 1e6)
    // Reference formula: the CURRENT row's apr is the denominator, and a
    // zero denominator keeps the row (the reference's bare except: pass on
    // ZeroDivisionError, index_epoch_apr_handler.py:87-92).
    val w = Window.partitionBy("idx").orderBy("epoch")
    grouped
      .withColumn("_prev", lag(col("apr"), 1).over(w))
      .withColumn("_next", lead(col("apr"), 1).over(w))
      .filter(!(col("_prev").isNotNull && col("_next").isNotNull
        && col("apr") =!= 0.0
        && abs(col("apr") - col("_prev")) > col("apr") * 0.1
        && abs(col("apr") - col("_next")) > col("apr") * 0.1))
      .select("idx", "epoch", "apr", "earnings", "losses")
  }

  /** The /indexAPRAverage endpoint (reference:
    * /root/reference/src/api_handler.py:314-352): each index's APR next to
    * the mean APR across ALL indexes (`mean([index['aprPerValidator']...])`,
    * :338 — OP-33's mean-of-means at the serving edge) and the index's
    * total earnings. One row per index; the global mean repeats per row
    * exactly as the endpoint returns it alongside indexAPR. avg_apr is an
    * exact integer-micro multiple, so the second-level mean reuses the
    * micro-unit trick losslessly.
    */
  def indexAprAverage(spark: SparkSession, dir: String): DataFrame = {
    val board = leaderboardFrame(spark, dir)
      .select("c_mktsegment", "avg_apr", "sum_earnings")
    // The global mean rides an unpartitioned window over the (per-index,
    // i.e. tiny by construction) board instead of a crossJoin against a
    // separate aggregation branch — the income pipeline underneath is
    // evaluated ONCE, not once per branch.
    val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    board
      .withColumn("_k", sum(round(col("avg_apr") * 1e6).cast("long")).over(w))
      .withColumn("_n", count(lit(1)).over(w))
      .select(col("c_mktsegment").as("idx"), col("avg_apr").as("index_apr"),
        (expr("(_k * 2 + _n) div (_n * 2)").cast("double") / 1e6)
          .as("all_index_apr_average"),
        col("sum_earnings").as("total_deth_earned"))
      .transform(respond("idx"))
  }

  /** The /lsdWiseAPR endpoint (reference:
    * /root/reference/src/api_handler.py:876-912): the full ticker dimension
    * left-joined to per-index APR/earnings, with INACTIVE indexes emitted
    * as zeros ("For LSDs which are not active, send earnings and APR
    * zero"). nation stands in for the LSD ticker mapping; customer
    * c_nationkey links income to its index.
    */
  def lsdWiseApr(spark: SparkSession, dir: String): DataFrame = {
    val income = IncomeKernel.servingIncome(spark, dir)
    val w = Window.partitionBy("user_id").orderBy(col("epoch").desc)
    val latest = income
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("user_id"), col("earnings"), col("apr"))
    val dim = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val perIdx = latest
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("lsd_index"))
      .agg(
        sum(round(col("apr") * 1e6).cast("long")).as("_k"),
        count(lit(1)).as("_n"),
        round(sum(col("earnings")), 6).as("_earnings"))
      .select(col("lsd_index"),
        (expr("(_k * 2 + _n) div (_n * 2)").cast("double") / 1e6).as("_apr"),
        col("_earnings"))
    Tables.nation(spark, dir)
      .select(col("n_nationkey").as("lsd_index"), col("n_name").as("ticker"))
      // one row per LSD index: broadcast, as in userIncome
      .join(broadcast(perIdx), Seq("lsd_index"), "left_outer")
      .select(col("lsd_index"), col("ticker"),
        coalesce(col("_earnings"), lit(0.0)).as("earnings"),
        coalesce(col("_apr"), lit(0.0)).as("apr"))
      .transform(respond("lsd_index"))
  }

  /** The /userIncomeMEV endpoint (reference:
    * /root/reference/src/api_handler.py:715-760): per-validator MEV
    * redemption rate `(24 + earnings) / (8 - losses + top_ups)` and sETH
    * token value `((24 + earnings) / 8) * validator_slot` (:744-748) over
    * the user's latest income joined to the broadcast entity dimension.
    * c_acctbal-derived top-ups and a deterministic slot stand in for the
    * subgraph lookups; constants are fixture-scaled.
    */
  def userIncomeMev(spark: SparkSession, dir: String): DataFrame = {
    val income = IncomeKernel.servingIncome(spark, dir)
    val w = Window.partitionBy("user_id").orderBy(col("epoch").desc)
    val latest = income
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("user_id"), col("earnings"), col("losses"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"),
        round(col("c_acctbal") / 1e4, 6).as("top_up"),
        (col("c_custkey") % 4 + 1).as("slot"))
    latest.join(broadcast(cust), col("user_id") === col("c_custkey"))
      // earnings is micro-exact (6-dp rounded); sETH's /8 gives a FINITE
      // decimal expansion whose 6-dp rounding lands on half-points where
      // the engines' roundings disagree — evaluate it in exact integer
      // micro-units: (24 + e/1e3)/8*slot == (24e9 + e*1e6)*slot/8000 µ.
      .withColumn("_em", round(col("earnings") * 1e6).cast("long"))
      .select(col("user_id"),
        round((lit(24.0) + col("earnings") / 1e3)
          / (lit(8.0) - col("losses") / 1e3 + col("top_up")), 6)
          .as("redemption_rate"),
        (expr("((24000000000 + _em) * slot * 2 + 8000) div 16000")
          .cast("double") / 1e6).as("seth_value"),
        col("slot").cast("long").as("validator_slot"))
      .transform(respond("user_id"))
  }

  /** The /validatorEpochWiseApr endpoint (reference:
    * /root/reference/src/api_handler.py:58-69,354-378): a validator's last
    * N epochs of (epoch, apr) — `ORDER BY epoch DESC LIMIT N` — plus
    * totaldETHEarnings taken from the LATEST row, restated for every key
    * at once; keys with fewer than N epochs are excluded (the endpoint's
    * "Required Epochs Doesn't Exist" 400). One window shuffle serves the
    * rank, the history count, and the latest-earnings pick.
    */
  def epochWiseApr(spark: SparkSession, dir: String): DataFrame = {
    val income = IncomeKernel.servingIncome(spark, dir)
    val wDesc = Window.partitionBy("user_id").orderBy(col("epoch").desc)
    val wAll = Window.partitionBy("user_id")
    income
      .withColumn("_rn", row_number().over(wDesc))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("total_deth_earnings",
        max(when(col("_rn") === 1, col("earnings"))).over(wAll))
      .where(col("_rn") <= 5 && col("_n") >= 5)
      .select("user_id", "epoch", "apr", "total_deth_earnings")
      .transform(respond("user_id", "epoch"))
  }

  /** The /validatorAprEpochs endpoint (reference:
    * /root/reference/src/api_handler.py:71-85,920-938): per-key (epoch,
    * earnings) BETWEEN an epoch lower bound and the finalized epoch, the
    * upper bound defaulting to the finalized checkpoint exactly as the
    * endpoint falls back to `/finality_checkpoints`. The finalized epoch
    * is a 1-row broadcast; the range predicate prunes on the fact side.
    */
  def aprBetweenEpochs(spark: SparkSession, dir: String): DataFrame = {
    val income = IncomeKernel.servingIncome(spark, dir)
    val fin = income.agg(max(col("epoch")).as("fin"))
    income.crossJoin(broadcast(fin))
      .where(col("epoch") >= col("fin") - 7 && col("epoch") <= col("fin"))
      .select("user_id", "epoch", "earnings")
      .transform(respond("user_id", "epoch"))
  }

  /** The /userIncomeNodeRunner endpoint (reference:
    * /root/reference/src/api_handler.py:762-805): like the MEV variant but
    * the validator slot is DERIVED — `4 - losses + top_ups` (:792) — and
    * sETH uses the fixed 4-slot form (:794). slot and sETH have finite
    * decimal expansions, so both are exact integer micro-unit divisions
    * (slot's numerator can go negative, so it carries a +1e12 shift to
    * keep truncating `div` and flooring `//` in agreement).
    */
  def userIncomeNodeRunner(spark: SparkSession, dir: String): DataFrame = {
    val income = IncomeKernel.servingIncome(spark, dir)
    val w = Window.partitionBy("user_id").orderBy(col("epoch").desc)
    val latest = income
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("user_id"), col("earnings"), col("losses"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), round(col("c_acctbal") / 1e4, 6).as("top_up"))
    latest.join(broadcast(cust), col("user_id") === col("c_custkey"))
      .withColumn("_em", round(col("earnings") * 1e6).cast("long"))
      .withColumn("_lm", round(col("losses") * 1e6).cast("long"))
      .withColumn("_tm", round(col("top_up") * 1e6).cast("long"))
      .select(col("user_id"),
        // 4 - losses/1e3 + top_up == (4e9 - lm + 1000*tm) / 1e9
        (expr("((4000000000 - _lm + 1000 * _tm + 1000000000000) * 2 + 1000) div 2000" +
          " - 1000000000").cast("double") / 1e6).as("validator_slot"),
        round((lit(24.0) + col("earnings") / 1e3)
          / (lit(8.0) - col("losses") / 1e3 + col("top_up")), 6)
          .as("redemption_rate"),
        // (24 + earnings/1e3) / 8 * 4 == (24e9 + em) / 2000 µ
        (expr("((24000000000 + _em) * 2 + 2000) div 4000")
          .cast("double") / 1e6).as("seth_value"))
      .transform(respond("user_id"))
  }

  /** The /averageIndexAPR endpoint (reference:
    * /root/reference/src/api_handler.py:113-130,380-398): the requested
    * index's last-N APR history NEXT TO the open index's (index 0) — two
    * `ORDER BY epoch DESC LIMIT N` reads off the materialized
    * Validator_Indexes_APR table, which is exactly [[indexEpochAprFrame]]'s
    * output here. Restated for every index at once; the open-index column
    * left-joins by epoch (0 when the open index lacks that epoch, matching
    * the endpoint's .get(..., 0) default). AUTOMOBILE stands in for the
    * open index.
    */
  def averageIndexApr(spark: SparkSession, dir: String): DataFrame = {
    val base = indexEpochAprFrame(spark, dir).select("idx", "epoch", "apr")
    // The open index's APR at each epoch is a per-epoch window aggregate
    // over the SAME frame — one pass, instead of a where-filtered
    // self-join that re-evaluates the whole index-APR derivation.
    val wEpoch = Window.partitionBy("epoch")
    val w = Window.partitionBy("idx").orderBy(col("epoch").desc)
    base
      .withColumn("open_apr",
        coalesce(max(when(col("idx") === "AUTOMOBILE", col("apr"))).over(wEpoch), lit(0.0)))
      .withColumn("_rn", row_number().over(w)).where(col("_rn") <= 5)
      .select("idx", "epoch", "apr", "open_apr")
      .transform(respond("idx", "epoch"))
  }

  /** The /validatorSlotWithdrawals endpoint (reference:
    * /root/reference/src/api_handler.py:807-826): a validator's
    * withdrawals AFTER a cursor index, capped at a page limit — the
    * keyset-paged read every withdrawal API shares. Restated for every key
    * at once: withdrawal index = row_number per key in arrival order, page
    * = (lower, lower+limit]. One window shuffle; the predicate prunes to
    * the page.
    */
  /** Withdrawals with their per-key cursor index: widx = row_number per
    * user in event_id (arrival) order over the purchase rows. This IS the
    * stored `withdrawal_index` column of the reference's
    * Validator_Slot_Withdrawals table — both paged withdrawal endpoints
    * ([[validatorSlotWithdrawals]], ServingEndpoints.withdrawalsSlotRange)
    * derive from this one frame so their cursors cannot diverge.
    * `epochName` names the day-grain column ("epoch" or "slot").
    */
  private[pipeline] def withdrawalsWithIndex(
      spark: SparkSession, dir: String, epochName: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    Tables.events(spark, dir).where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), dayEpoch.as(epochName),
        round(col("value"), 6).as("amount"))
      .withColumn("widx", row_number().over(w).cast("long"))
  }

  def validatorSlotWithdrawals(spark: SparkSession, dir: String): DataFrame = {
    val lower = 2; val limit = 3
    withdrawalsWithIndex(spark, dir, "epoch")
      .where(col("widx") > lower && col("widx") <= lower + limit)
      .select("user_id", "widx", "event_id", "epoch", "amount")
      .transform(respond("user_id", "widx"))
  }

  /** The end-to-end TRAINING-DATA pipeline: dedup survivorship × quality
    * scoring × language ID, rolled up to per-(language, tier) corpus
    * stats — the composition a pretraining-data curation job ships
    * (builder brief: dedup + text analysis as first-class operators).
    * Quality averages use exact integer micro-units SHIFTED to a
    * non-negative domain (+1): quality_score can be negative, where Spark
    * `div` (truncate) and DuckDB `//` (floor) disagree.
    */
  def trainingCorpus(spark: SparkSession, dir: String): DataFrame = {
    val survivors = graft.operators.DedupOps.nsDedupCorpus(spark, dir).select("doc_id")
    val quality = graft.operators.TextOps.nsTextQuality(spark, dir)
      .select("doc_id", "quality_score", "tier")
    val lang = graft.operators.TextOps.nsTextLangId(spark, dir)
      .select("doc_id", "predicted_lang")
    survivors.join(quality, "doc_id").join(lang, "doc_id")
      .groupBy("predicted_lang", "tier")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(round((col("quality_score") + 1) * 1e6).cast("long")).as("_k"))
      .select(col("predicted_lang"), col("tier"), col("n_docs"),
        (expr("(_k * 2 + n_docs) div (n_docs * 2)").cast("double") / 1e6 - 1)
          .as("avg_quality"))
      .orderBy("predicted_lang", "tier")
  }

  /** The COMPLETE corpus-build pipeline, survivor to training chunk:
    * dedup survivorship → quality gate (drop tier 'low') → language ID →
    * deterministic 50% stratified sample per predicted language →
    * concat-and-chunk packing at [[graft.operators.PackingOps.ChunkTokens]]
    * tokens. Output is one row per SELECTED document with its sample rank
    * and chunk span — the manifest a pretraining data job materializes.
    *
    * Composition of published operators ([[graft.operators.DedupOps]],
    * [[graft.operators.TextOps]], [[graft.operators.SamplingOps]]'s
    * affine key, [[graft.operators.PackingOps]]'s chunk arithmetic); the
    * oracle composes those operators' published SQL the same way. Scale
    * shape: the dedup stage dominates (banded, see PLANS.md); the tail
    * is the shared low-cardinality-window sweep — the sample rank rides
    * [[graft.operators.SamplingOps.rangedSampleRank]] (doc rows on
    * (predicted_lang, sample-key-range) windows), the quota is a plain
    * per-lang total broadcast back (no doc-row window at all), and the
    * packing running sum rides
    * [[graft.operators.PackingOps.rangedPrefix]] ((predicted_lang,
    * id-range) windows) — predicted_lang alone (en ≈ 44 % of a real
    * corpus) never partitions doc-scale rows. NOTE: construction runs
    * bounded EAGER driver actions (the prefix scan's id-bounds scalar),
    * so building the frame launches Spark jobs — the rangedPrefix
    * caller-contract class.
    */
  def corpusBuild(spark: SparkSession, dir: String): DataFrame = {
    val survivors = graft.operators.DedupOps.nsDedupCorpus(spark, dir).select("doc_id")
    val quality = graft.operators.TextOps.nsTextQuality(spark, dir)
      .select("doc_id", "tier").where(col("tier") =!= "low")
    val lang = graft.operators.TextOps.nsTextLangId(spark, dir)
      .select("doc_id", "predicted_lang")
    val toks = Tables.documents(spark, dir).select(col("doc_id"),
      graft.operators.PackingOps.bpeTokens.as("toks"))
      .where(col("toks") > 0) // zero-token docs span no chunk (see PackingOps)
    // Cached: the quota aggregate and the rank kernel's two passes all
    // read the joined frame — the upstream dedup/quality/lang stages
    // must run once, not three times.
    val base = survivors.join(quality, "doc_id").join(lang, "doc_id")
      .join(toks, "doc_id")
      .withColumn("sample_key", graft.operators.SamplingOps.sampleKeyCol)
      .cache()
    // Eager count: materializes the cached base before the rank kernel's
    // plan branches read it (the eager-bounds warming contract) AND
    // drives the kernel's row-count-adaptive dispatch.
    val nBase = base.count()
    val quotas = base.groupBy("predicted_lang")
      .agg(ceil(count(lit(1)) * 0.5).as("quota"))
    // Cached for the same reason: the prefix scan's bounds scalar,
    // offset aggregate and doc-row pass all read the selected frame.
    val selected = graft.operators.SamplingOps
      .rangedSampleRank(base, "predicted_lang", "sample_rank",
        knownRows = Some(nBase))
      .join(broadcast(quotas), "predicted_lang")
      .where(col("sample_rank") <= col("quota"))
      .select("doc_id", "predicted_lang", "tier", "toks", "sample_rank")
      .cache()
    graft.operators.PackingOps
      .rangedPrefix(selected, "predicted_lang", "toks", "cum_before")
      .select(
        col("doc_id"), col("predicted_lang"), col("tier"), col("toks"),
        col("sample_rank"), col("cum_before"),
        expr(s"cum_before div ${graft.operators.PackingOps.ChunkTokens}").as("first_chunk"),
        expr(s"(cum_before + toks - 1) div ${graft.operators.PackingOps.ChunkTokens}")
          .as("last_chunk"))
      .orderBy("predicted_lang", "doc_id")
  }

  /** The INGEST ADMISSION audit table — the batch form of the full
    * streaming admission chain
    * ([[graft.streaming.StreamingAdmissionChain]]): candidate documents
    * (non-eval, doc_id % 3 ≠ 0) are judged against an existing corpus
    * (non-eval, doc_id % 3 = 0) on all five gates a pretraining ingest
    * runs —
    *   0. URL canonical duplicate (the crawl rung — cheapest gate, no
    *      content read; URLs synthesized per doc by the
    *      [[graft.operators.DedupOps.nsDedupUrls]] formula),
    *   1. Gopher quality rules (per-row projection, [[graft.operators.TextOps]]),
    *   2. exact duplicate of a corpus document (normalized sha256),
    *   3. MinHash near-duplicate of a corpus document (banded index,
    *      verified jaccard ≥ 0.5, [[graft.operators.DedupOps]]),
    *   4. eval-set contamination (≥ 10 shared shingles with the
    *      doc_id % 50 = 0 probe suite)
    * — with one row PER CANDIDATE carrying each gate's verdict and the
    * final admit bit (audit semantics: every gate evaluated for every
    * candidate, so rejects are explainable; the streaming twin
    * early-exits instead, which only ever does less work).
    *
    * Scale shape: gate 1 is scan-bound; gates 2-4 are the published
    * batch-vs-index shapes (fp semi-join, band-bucket candidates only,
    * broadcast probe set); the verdict assembly is four left joins on
    * doc_id — uniform key, one exchange family.
    */
  def corpusAdmission(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isEval = col("doc_id") % 50 === 0
    val isCorpus = !isEval && col("doc_id") % 3 === 0
    val isCand = !isEval && col("doc_id") % 3 =!= 0
    def urls(d: DataFrame): DataFrame = d.select(col("doc_id"),
      graft.operators.DedupOps.synthUrl(col("doc_id")).as("url"))
    admissionVerdicts(docs.where(isCand), docs.where(isCorpus),
      docs.where(isEval),
      candUrls = Some(urls(docs.where(isCand))),
      corpusUrls = Some(urls(docs.where(isCorpus)))).orderBy("doc_id")
  }

  /** Normalized-text content fingerprint (the [[graft.operators.DedupOps]]
    * exact-dedup key) — shared by the batch audit, the streaming chain's
    * exact gate, and their specs.
    */
  private[graft] def contentFp(d: DataFrame): DataFrame = d.select(
    col("doc_id"),
    sha2(regexp_replace(lower(col("text")), "\\s+", " "), 256).as("fp"))

  /** The gate-verdict table for `cands` against `corpus` and the
    * `probe` eval suite — the admission kernel shared by the oracled
    * batch query and (as the expected-value recompute) the streaming
    * chain's spec. Audit semantics: every gate is evaluated for every
    * candidate; the admitted SET is identical to an early-exit chain's.
    *
    * When `candUrls`/`corpusUrls` (doc_id, url) are supplied, the audit
    * also carries gate 0 — the crawl pipeline's URL rung: a candidate is
    * `url_dup` when its canonical URL ([[graft.operators.DedupOps.canonicalUrl]])
    * matches a corpus document's canonical, or an earlier (smaller
    * doc_id) candidate's — the same min-survivorship rule as
    * [[graft.operators.DedupOps.nsDedupUrls]] and the streaming
    * [[graft.streaming.StreamingUrlDedup]] gate. This is the CHEAPEST
    * gate (string normalization + one shuffle on the canonical; no
    * content ever read), which is why the early-exit streaming chain
    * runs it first.
    */
  private[graft] def admissionVerdicts(
      cands: DataFrame, corpus: DataFrame, probe: DataFrame,
      candUrls: Option[DataFrame] = None,
      corpusUrls: Option[DataFrame] = None): DataFrame = {
    val dedup = graft.operators.DedupOps
    val gpass = graft.operators.TextOps.gopherProfile(cands)
      .select(col("doc_id"), col("pass"))
    val exactIds = contentFp(cands)
      .join(contentFp(corpus).select("fp").distinct(), Seq("fp"), "left_semi")
      .select("doc_id")
    val (banded, sets) = dedup.corpusIndex(corpus)
    // cands is an audit SLICE of the corpus (corpus-proportional) in the
    // batch query; only the streaming chain's micro-batches are genuinely
    // request-sized (it calls matchAgainstIndex itself with the hint).
    val nearIds = dedup.matchAgainstIndex(cands, banded, sets,
        batchIsSmall = None)
      .select(col("batch_doc").as("doc_id")).distinct()
    val benchSh = dedup.shingles(probe).select("sh").distinct()
    val contamIds = dedup
      .contaminationProfile(dedup.shingles(cands), benchSh)
      .where(col("drop_doc")).select("doc_id")
    def flag(ids: DataFrame, name: String): DataFrame =
      ids.withColumn(name, lit(true))
    val base = cands.select("doc_id")
      .join(gpass, Seq("doc_id"), "left")
      .join(flag(exactIds, "ed"), Seq("doc_id"), "left")
      .join(flag(nearIds, "nd"), Seq("doc_id"), "left")
      .join(flag(contamIds, "ct"), Seq("doc_id"), "left")
    (candUrls, corpusUrls) match {
      case (Some(cu), Some(ou)) =>
        val canon = cu.select(col("doc_id"),
          dedup.canonicalUrl(col("url")).as("canonical"))
        val corpCanon = ou
          .select(dedup.canonicalUrl(col("url")).as("canonical")).distinct()
        // Canonical seen in the corpus, or claimed by a smaller-id
        // candidate (min survivorship) — one shuffle on the canonical.
        val urlIds = canon
          .join(corpCanon, Seq("canonical"), "left_semi").select("doc_id")
          .unionByName(canon
            .withColumn("_rn", row_number().over(
              Window.partitionBy("canonical").orderBy("doc_id")))
            .where(col("_rn") > 1).select("doc_id"))
          .distinct()
        base.join(flag(urlIds, "ud"), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("ud"), lit(false)).as("url_dup"),
            coalesce(col("pass"), lit(false)).as("gopher_pass"),
            coalesce(col("ed"), lit(false)).as("exact_dup"),
            coalesce(col("nd"), lit(false)).as("near_dup"),
            coalesce(col("ct"), lit(false)).as("contaminated"))
          .withColumn("admit", !col("url_dup") && col("gopher_pass")
            && !col("exact_dup") && !col("near_dup") && !col("contaminated"))
      case _ =>
        base.select(col("doc_id"),
            coalesce(col("pass"), lit(false)).as("gopher_pass"),
            coalesce(col("ed"), lit(false)).as("exact_dup"),
            coalesce(col("nd"), lit(false)).as("near_dup"),
            coalesce(col("ct"), lit(false)).as("contaminated"))
          .withColumn("admit", col("gopher_pass") && !col("exact_dup")
            && !col("near_dup") && !col("contaminated"))
    }
  }

  /** The nightly CORPUS-HEALTH REPORT — one (metric, value) row per
    * corpus-level statistic a pretraining-data owner watches, composed
    * from the published operators (each metric is that operator's
    * aggregate, so the report is consistent with the detailed queries by
    * construction):
    *   n_docs / n_ws_tokens / n_chars   — volume
    *   n_dup_docs                       — docs displaced by near-dup
    *                                       survivorship (docs − components)
    *   n_contaminated                   — eval-leak docs the decon scan drops
    *   n_gopher_pass                    — docs clearing the quality battery
    *   n_quality_{high,medium,low}      — tier histogram
    *   n_langs                          — distinct predicted languages
    * All values are exact BIGINTs — no ratio ever divides inside the
    * report, so there is no float-parity surface at all.
    *
    * SHARED-SCAN composition (round 7): the round-6 form recomputed every
    * constituent cache-cold — the components machinery and the
    * decontamination scan each ran their OWN shingle pass over the corpus
    * and the gopher/quality/langid metrics each re-scanned the parquet
    * (five corpus scans, two shingle exchanges; the slowest query in the
    * round-6 clean bench at 10.2 s). Now every metric feeds from ONE
    * cached documents frame, and the two shingle-family metrics share ONE
    * cached shingle pass ([[graft.operators.DedupOps.healthSharedPass]]):
    * one corpus scan + one shingle exchange total — at 100 TB the
    * difference between a nightly report that costs one pass and six.
    * Metric values are unchanged (the per-doc text columns come from the
    * SAME column builders the published operators wrap —
    * [[graft.operators.TextOps.corpusProfile]]), so the composed oracle
    * holds verbatim; PipelineGoldenSpec additionally pins every fused
    * metric against the independently-computed constituents.
    */
  def corpusReport(spark: SparkSession, dir: String): DataFrame = {
    val text = graft.operators.TextOps
    val dedup = graft.operators.DedupOps
    // ONE corpus scan: both passes below read this cached frame.
    val docs = Tables.documents(spark, dir).cache()
    // ONE shingle exchange: components + decontamination share it
    // (materializes the docs cache as a side effect).
    val (comps, contam) =
      dedup.healthSharedPass(docs, col("doc_id") % 50 === 0)
    // ONE text pass: every per-doc text metric in a single chained
    // projection, cached thin (no text column) and materialized eagerly
    // so the report's parallel aggregate branches don't race to compute
    // it (the materializedSetsAndSig discipline).
    val prof = text.corpusProfile(docs).cache()
    prof.count()
    val main = prof.agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("ws_tokens")).cast("long").as("n_ws_tokens"),
        sum(col("chars")).cast("long").as("n_chars"),
        count(when(col("gopher_pass"), 1)).cast("long").as("n_gopher_pass"),
        countDistinct(col("predicted_lang")).cast("long").as("n_langs"))
      .selectExpr(
        """stack(5, 'n_docs', n_docs, 'n_ws_tokens', n_ws_tokens,
          |'n_chars', n_chars, 'n_gopher_pass', n_gopher_pass,
          |'n_langs', n_langs) AS (metric, value)""".stripMargin)
    val tiers = prof.where(col("tier").isNotNull)
      .groupBy("tier").agg(count(lit(1)).as("value"))
      .select(concat(lit("n_quality_"), col("tier")).as("metric"), col("value"))
    val nDup = prof.agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(comps.agg(count(lit(1)).as("nc"))))
      .select(lit("n_dup_docs").as("metric"), (col("n") - col("nc")).as("value"))
    val nContam = contam.where(col("drop_doc"))
      .agg(count(lit(1)).cast("long").as("value"))
      .select(lit("n_contaminated").as("metric"), col("value"))
    main.unionByName(nDup).unionByName(nContam).unionByName(tiers)
      .orderBy("metric")
  }

  /** Tokenizer bake-off — the vocabulary-selection job a pretraining
    * pipeline runs before committing to a tokenizer: per document, the
    * whitespace baseline, the trained BPE token count and the trained
    * unigram piece count side by side, plus the winner (ties to BPE).
    * All exact integers; the oracle composes the three published
    * tokenizer oracles on the doc key.
    *
    * Restricted to documents every tokenizer fully encodes: the unigram
    * Viterbi skips words longer than [[graft.operators.TextOps.UniMaxWord]]
    * chars, so a doc containing one would compare a full BPE count
    * against a partial unigram count — those docs are excluded (both
    * engines), keeping the comparison apples-to-apples.
    */
  def tokenizerEval(spark: SparkSession, dir: String): DataFrame = {
    val text = graft.operators.TextOps
    val eligible = Tables.documents(spark, dir)
      .select(col("doc_id"), expr(
        s"size(filter(split(lower(text), ' '), w -> length(w) > ${text.UniMaxWord}))")
        .as("n_long"))
      .where(col("n_long") === 0).select("doc_id")
    val ws = text.nsTextTokens(spark, dir).select("doc_id", "ws_tokens")
    val bpe = text.nsTextBpeEncode(spark, dir)
      .select(col("doc_id"), col("n_bpe_tokens"))
    val uni = text.nsTextUnigramEncode(spark, dir)
      .select(col("doc_id"), col("n_pieces").as("n_uni_pieces"))
    ws.join(eligible, "doc_id").join(bpe, "doc_id").join(uni, "doc_id")
      .withColumn("fewer_tokens",
        when(col("n_bpe_tokens") <= col("n_uni_pieces"), "bpe")
          .otherwise("unigram"))
      .orderBy("doc_id")
  }

  /** The PLATFORM END-TO-END BUILD — the whole ingest-to-training-chunks
    * path as ONE oracled job emitting the audited manifest a pretraining
    * run consumes. Stages, each reusing the published operator it is
    * gated by:
    *
    *  1. INDEX: publish the near-dup MinHash index artifact
    *     ([[graft.operators.IndexOps.buildDedupIndex]] — write-audit-
    *     publish, bucketed by band key), then derive everything dedup
    *     from the FILES, not an in-session rebuild.
    *  2. SURVIVORSHIP: near-dup edges from the stored index
    *     ([[graft.operators.IndexOps.dedupEdgesFromIndex]]) → connected
    *     components → each component keeps its min-id document. Exact
    *     duplicates are jaccard-1.0 near-dups, so the exact-dedup gate is
    *     subsumed by construction.
    *  3. SPLIT: the leakage-free component-keyed 80/10/10 split
    *     ([[graft.operators.DedupOps.splitCol]]); only `train` proceeds,
    *     and the held-out eval suite (doc_id ≡ 0 mod 50) never trains.
    *  4. GATES: Gopher quality pass (admission), decontamination drop
    *     (eval-leak scan), DSIR keep (target-distribution selection) —
    *     all per-doc verdicts of their published oracled queries.
    *  5. TOKENIZER + PACK: BPE trained on the FULL corpus (vocab
    *     decoupled from selection, the pipe_select_pack discipline),
    *     real token budgets, global shard-offset packing.
    *
    * Manifest row: (doc_id, lang, component, toks, cum_before,
    * first_chunk, last_chunk, n_chunks) — which chunk range each
    * surviving document owns, traceable back to its dedup component.
    *
    * Scale shape: nothing new — every stage is the published operator's
    * plan (index build once; edges bucket-pruned; components
    * edge-proportional; gates linear scans; pack two-pass shard-offset);
    * the composition adds only doc-keyed semi/anti joins.
    */
  def platformBuild(spark: SparkSession, dir: String): DataFrame =
    platformBuildCore(spark, dir, ArtifactMeta.rootFor("build", dir), lit(true))
      .orderBy("lang", "doc_id")

  private[graft] def readMerges(spark: SparkSession, root: String): Seq[(Long, String, String, String, Long)] =
    spark.read.parquet(s"$root/merges")
      .select("merge_rank", "left_sym", "right_sym", "merged", "pair_count")
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq

  private[graft] def readLlr(spark: SparkSession, root: String): Array[Long] =
    spark.read.parquet(s"$root/dsir")
      .select(col("b").cast("int"), col("llr_u"))
      .collect().sortBy(_.getInt(0)).map(_.getLong(1))

  /** The parameterized platform-build core: builds the platform over the
    * `buildFilter`-selected corpus slice, PUBLISHES every artifact a
    * later incremental run consumes (the day-1 state of
    * [[platformDelta]]), and returns the packed manifest. Artifacts under
    * `root`:
    *
    *   - `banded/`, `sets/`   — the near-dup MinHash index
    *     ([[graft.operators.IndexOps.buildDedupIndex]], band-bucketed)
    *   - `labels/`            — per-doc component labels, doc-bucketed
    *     (what a delta relabels through)
    *   - `evalsh/`            — the frozen eval-suite probe shingles
    *   - `dsir/`              — the trained llr model (128 rows)
    *   - `merges/`            — the trained BPE merge table
    *   - `manifest/`          — the packed manifest, partitioned by lang
    *   - `stats/`             — one row: total packed tokens
    *
    * `frozenFrom` points at a PREVIOUS build's root whose models (BPE
    * merges + DSIR llr) should be reused instead of retrained — the
    * "full rebuild under frozen day-1 models" arm of the delta
    * equivalence spec.
    */
  private[graft] def platformBuildCore(
      spark: SparkSession, dir: String, root: String,
      buildFilter: Column, frozenFrom: Option[String] = None,
      buckets: Int = 0): DataFrame = {
    import spark.implicits._
    val dedup = graft.operators.DedupOps
    val text = graft.operators.TextOps
    val sampling = graft.operators.SamplingOps
    val sink = graft.ops.MergeSink
    val docs = Tables.documents(spark, dir).where(buildFilter)
    // Corpus-scaled bucket count, shared by every doc-keyed artifact under
    // this root and persisted in `meta/` for the delta's maintenance
    // passes (graft.ops.ArtifactMeta — fixed bucket SIZE, so a delta's
    // touched-bucket rewrites stay batch-proportional as the corpus grows).
    val lblBuckets =
      if (buckets > 0) buckets
      else graft.ops.ArtifactMeta.bucketsFor(docs.count())
    // 1-2: publish the index artifact, survivorship from the files
    graft.operators.IndexOps.buildDedupIndex(docs, root, lblBuckets)
    val pairs = graft.operators.IndexOps.dedupEdgesFromIndex(spark, root)
      .select("doc_a", "doc_b")
    val labels = dedup.componentLabelsFromEdges(docs.select("doc_id"), pairs)
    // Labels are a GROUP-REPLACE log (doc-keyed; a delta appends ONLY the
    // rows it changes under its own seq — graft.ops.MergeSink.resolveKeyLog
    // resolves), published coalesced: bucket is a sorted data column in a
    // few files, not a directory per bucket.
    sink.publishLogSeq(
      labels.withColumn("bucket", pmod(col("doc_id"), lit(lblBuckets.toLong)).cast("int")),
      s"$root/labels", 0, graft.ops.ArtifactMeta.filesFor(lblBuckets),
      Seq("bucket", "doc_id"))
    graft.ops.ArtifactMeta.write(spark, root,
      Map("buckets.labels" -> lblBuckets.toLong))
    // 3: split on the component key; survivors of the train split only
    val surv = labels.where(dedup.splitCol === "train")
      .where(col("doc_id") === col("component"))
      .where(col("doc_id") % 50 =!= 0)
    // 4: admission + decontamination + selection gates. Decontamination
    // reads the STORED shingle sets (exploding a per-doc distinct set is
    // row-identical to the published re-shingling form — the
    // healthSharedPass equivalence, here from the artifact): the corpus
    // is shingled exactly ONCE in this whole job, at index build. The
    // distinct eval probe set is itself published (`evalsh/`) — the
    // frozen benchmark suite a delta's decontamination gate probes.
    val storedSets = spark.read.parquet(s"$root/sets").select("doc_id", "shs")
    sink.publishPartitioned(
      storedSets.where(col("doc_id") % 50 === 0)
        .select(explode(col("shs")).as("sh")).distinct()
        .withColumn("bucket", lit(0)),
      s"$root/evalsh", "bucket")
    val contam = dedup.contaminationProfile(
        storedSets.where(col("doc_id") % 50 =!= 0)
          .select(col("doc_id"), explode(col("shs")).as("sh")),
        spark.read.parquet(s"$root/evalsh").select("sh"))
      .where(col("drop_doc")).select("doc_id")
    val gopherPass = text.gopherProfile(docs).where(col("pass")).select("doc_id")
    val llrU = frozenFrom.fold(sampling.dsirLlrTable(docs))(readLlr(spark, _))
    sink.publishPartitioned(
      llrU.zipWithIndex.map { case (v, b) => (b.toLong, v) }.toSeq
        .toDF("b", "llr_u").withColumn("bucket", lit(0)),
      s"$root/dsir", "bucket")
    val dsirKeep = sampling.dsirKeepDocs(docs, llrU)
    val fin = surv.select("doc_id", "component")
      .join(gopherPass, Seq("doc_id"), "left_semi")
      .join(contam, Seq("doc_id"), "left_anti")
      .join(dsirKeep, Seq("doc_id"), "left_semi")
    // 5: tokenizer over the build corpus (or the frozen day-1 table),
    // BPE budgets, global shard-offset pack
    val merges = frozenFrom.fold(text.trainBpeMerges(spark, dir, buildFilter))(readMerges(spark, _))
    sink.publishPartitioned(
      merges.toDF("merge_rank", "left_sym", "right_sym", "merged", "pair_count")
        .withColumn("bucket", lit(0)),
      s"$root/merges", "bucket")
    val packInput = docs.join(fin.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"),
        text.bpeTokenCountCol(merges).as("toks"))
      .where(col("toks") > 0)
      .cache()
    val manifest = graft.operators.PackingOps.packGlobalFrom(packInput)
      .join(fin, Seq("doc_id"))
      .select("doc_id", "lang", "component", "toks", "cum_before",
        "first_chunk", "last_chunk", "n_chunks")
    // APPEND-FRIENDLY LOG LAYOUT (day=N/lang=*): the build is day 0; each
    // delta appends ONLY its own day partition (new rows + revocation
    // tombstones) instead of rewriting whole lang partitions — at 100 TB
    // with a handful of langs, a lang-partitioned upsert would rewrite the
    // entire doc-count-scale manifest every day. Readers resolve
    // last-writer-wins by day ([[manifestSnapshot]]);
    // [[graft.ops.MergeSink.compactLog]] periodically folds the log back
    // to day 0.
    sink.publishPartitionedCols(
      manifest.withColumn("state", lit("base")).withColumn("day", lit(0)),
      s"$root/manifest", Seq("day", "lang"))
    sink.publishPartitioned(
      packInput.agg(coalesce(sum("toks"), lit(0L)).as("total_toks"))
        .withColumn("commit", lit("build"))
        .withColumn("bucket", lit(0)),
      s"$root/stats", "bucket")
    ArtifactMeta.commit(spark, root, "build")
    readManifestLog(spark, root)
      .select("doc_id", "lang", "component", "toks", "cum_before",
        "first_chunk", "last_chunk", "n_chunks")
  }

  /** The manifest log's schema, declared for reads: a corpus whose gates
    * reject EVERY document (the scale-rehearsal synthetic vocabulary
    * does exactly this) publishes an empty manifest — zero partition
    * directories, nothing for schema inference — and the platform must
    * read that as an empty frame, not throw UNABLE_TO_INFER_SCHEMA.
    */
  private val manifestLogSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, lang STRING, component BIGINT, toks BIGINT, " +
      "cum_before BIGINT, first_chunk BIGINT, last_chunk BIGINT, " +
      "n_chunks BIGINT, state STRING, day INT")

  private def readManifestLog(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(manifestLogSchema).parquet(s"$root/manifest")

  /** Current view of the append-friendly manifest log at `root`: one row
    * per doc, the highest-day writer wins — a delta writes its appended
    * rows and the rows it re-stated (fresh revocation tombstones,
    * component moves) under its own `day=N` partition and never rewrites
    * prior days' files. Carries `state` (base/appended/revoked as of the
    * last writer) and `day`.
    */
  private def manifestSnapshot(spark: SparkSession, root: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("day").desc)
    readManifestLog(spark, root)
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
  }

  /** The INCREMENTAL platform build — the operation a daily 100 TB
    * pipeline actually runs (a full rebuild is the one it can't): an
    * arriving batch of training candidates (doc_id ≡ 1 mod 10 — the eval
    * suite is versioned at day 1, so batches carry no eval docs) flows
    * through the STORED day-1 artifacts and APPENDS its packed chunks,
    * without re-shingling the corpus or re-training the tokenizer:
    *
    *  1. EDGES: the batch shingles ONCE; its band keys probe the stored
    *     banded index (batch↔corpus) and self-join (batch↔batch) —
    *     [[graft.operators.DedupOps.batchIndexAndEdges]].
    *  2. INDEX MAINTENANCE: the batch merges into the stored index,
    *     touching only its own buckets
    *     ([[graft.operators.IndexOps.updateDedupIndex]]).
    *  3. COMPONENTS, incrementally: corpus edge-endpoints map through the
    *     stored day-1 labels (one broadcast join over the metadata-scale
    *     label table), and the closure runs over the CONTRACTED graph —
    *     batch ids and touched day-1 labels only. Because every day-1
    *     label IS the min id of its component, min over the contracted
    *     group equals min over the merged members, so the incremental
    *     labels match a full-graph closure EXACTLY (the oracle replays
    *     the full closure — a hash match proves the consistency).
    *  4. GATES for the batch docs only: Gopher (per-doc), decontamination
    *     against the stored `evalsh/` probe set (the frozen suite), DSIR
    *     against the stored day-1 llr model (retraining would re-key
    *     every existing verdict).
    *  5. APPEND PACK: batch survivors tokenize under the FROZEN day-1
    *     merge table and pack after the stored token total — chunk ids
    *     continue the existing stream.
    *
    * Consistency is exact, including REVOCATION: a day-1 survivor whose
    * component merged with a smaller-id batch doc loses survivorship; its
    * manifest row stays with `state = 'revoked'` (the chunk range becomes
    * a tombstoned hole — an append store never repacks), and the stored
    * artifacts are maintained batch-proportionally so tomorrow's delta
    * reads today's state: labels upsert touched doc-buckets, the manifest
    * APPENDS this delta's rows + fresh tombstones under its own `day=N`
    * partition (prior days' files are never rewritten — the LWW day log
    * [[manifestSnapshot]] resolves; [[graft.ops.MergeSink.compactLog]]
    * folds it back periodically). Output rows carry
    * `state ∈ {base, appended, revoked}`; non-revoked rows equal a full
    * rebuild under the frozen day-1 models (PlatformDeltaSpec pins this;
    * the oracle replays the full-graph closure + day-1 closure + gates +
    * frozen-vocab encode + both pack algebras).
    *
    * Scale shape: every frame in steps 1-5 is BATCH-proportional except
    * two metadata-table passes (the label broadcast-join scan and the
    * manifest relabel join — doc-id-scale, not text-scale); the corpus
    * text is never touched. The day-1 build inside this query is the
    * fixture stand-in for "yesterday's artifacts already exist".
    */
  def platformDelta(spark: SparkSession, dir: String): DataFrame =
    platformDeltaAt(spark, dir, ArtifactMeta.rootFor("delta", dir))

  /** Runs the day-1 build + one delta at `root`. A root whose `build`
    * tag is not in its commit log ([[ArtifactMeta.isCommitted]] — one
    * existence probe) is fresh or torn mid-build: build day 1, then run
    * the delta. Otherwise the gate is the stats artifact's `commit`
    * column (the LAST artifact publish of both stages, so its value
    * proves every prior artifact mutation landed):
    *
    *   - `"delta"` committed → this query's delta already ran here (the
    *     bench evaluates every query twice in one JVM; a crash-replay of
    *     a nightly job re-submits the same day). The committed output IS
    *     the manifest log's resolved view — REPLAY it. A blind re-run
    *     would re-append the batch after its own stored tokens and
    *     restate its prior day-log rows as base, emitting every batch
    *     survivor twice (pinned by the replay test in PlatformDeltaSpec).
    *   - `"build"` committed → day-1 artifacts are complete but the delta
    *     never committed (torn first run): skip the rebuild, run the
    *     delta — packing still reads the pre-delta total, so the re-run
    *     publishes byte-identical artifact rows.
    */
  private[graft] def platformDeltaAt(
      spark: SparkSession, dir: String, root: String): DataFrame = {
    val isBatch = (c: Column) => c % 10 === 1
    val committed =
      if (!ArtifactMeta.isCommitted(spark, root, "build")) ""
      else spark.read.parquet(s"$root/stats").select("commit").head().getString(0)
    committed match {
      case "delta" =>
        manifestSnapshot(spark, root)
          .select("doc_id", "lang", "component", "toks", "cum_before",
            "first_chunk", "last_chunk", "n_chunks", "state")
          .orderBy("doc_id")
      case "build" =>
        platformDeltaStage(spark, dir, root, isBatch)
      case _ =>
        // DAY 1: build + publish on the pre-existing corpus.
        platformBuildCore(spark, dir, root, !isBatch(col("doc_id")))
        platformDeltaStage(spark, dir, root, isBatch)
    }
  }

  /** The DELTA stage alone, over already-published day-1 artifacts at
    * `root` — separated so the scale rehearsal can time it apart from
    * the day-1 build (the claim under test: delta wall ∝ batch, not
    * corpus), and parameterized by the batch predicate so the rehearsal
    * can hold the batch size FIXED while the corpus grows.
    */
  private[graft] def platformDeltaStage(
      spark: SparkSession, dir: String, root: String,
      isBatch: Column => Column,
      edgeProbe: DataFrame => Unit = _ => ()): DataFrame =
    platformDeltaBatch(spark,
      Tables.documents(spark, dir).where(isBatch(col("doc_id"))),
      root, edgeProbe)

  /** [[platformDeltaStage]] over an ARRIVING BATCH FRAME — the form a
    * streaming micro-batch hands in
    * ([[graft.streaming.StreamingPlatformDelta]]): batch membership is
    * decided by semi/anti-joins against the batch's own (broadcast-tiny)
    * id set instead of a doc_id predicate, so any frame whose ids are
    * disjoint from the indexed corpus can be a batch. `commitTag`, when
    * set, is recorded in the stats artifact's `commit` column as the
    * delta's COMMIT RECORD: stats is the LAST publish, so a crash-replay
    * that finds its own tag already committed knows every artifact
    * mutation landed (the streaming twin's exactly-once guard); a replay
    * that does NOT find it recomputes byte-identical artifact rows
    * (packing reads the pre-delta total until that final publish).
    */
  private[graft] def platformDeltaBatch(
      spark: SparkSession, batch: DataFrame, root: String,
      edgeProbe: DataFrame => Unit = _ => (),
      commitTag: Option[String] = None): DataFrame = {
    val dedup = graft.operators.DedupOps
    val text = graft.operators.TextOps
    val sampling = graft.operators.SamplingOps
    val sink = graft.ops.MergeSink
    val batchIds = batch.select("doc_id")
    // 1: batch edges against the stored index (one batch shingle pass;
    // the banded probe broadcasts the batch side and the fat sets verify
    // reads only candidate buckets — see batchIndexAndEdgesPruned).
    val (batchSets, edges0) = dedup.batchIndexAndEdgesPruned(batch, root)
    edgeProbe(edges0) // rehearsal hook: observe the (checkpointed) edge list
    // 3 (before the index update so candidates are batch-vs-DAY-1): map
    // corpus endpoints to day-1 labels, close the contracted graph.
    // batchIndexAndEdges materialized edges0 EAGERLY, so every read of
    // the pre-update artifacts has already completed.
    val lbl = graft.ops.MergeSink
      .resolveKeyLog(spark, s"$root/labels", Seq("doc_id"))
      .select("doc_id", "component")
    val corpusSide = lbl.join(broadcast(edges0), lbl("doc_id") === edges0("doc_b"))
      .select(edges0("doc_a"), lbl("component").as("doc_b"))
    val deltaPairs = corpusSide.unionByName(
      edges0.join(broadcast(batchIds.withColumnRenamed("doc_id", "doc_b")),
        Seq("doc_b"), "left_semi").select("doc_a", "doc_b"))
    val newLabels = dedup.componentLabelsFromEdges(batchIds, deltaPairs)
    // 2: index maintenance (touched buckets only).
    graft.operators.IndexOps.updateDedupIndex(batch, root)
    // Touched day-1 components whose label changes under the merge.
    val relabel = newLabels
      .join(broadcast(batchIds), Seq("doc_id"), "left_anti")
      .select(col("doc_id").as("component"), col("component").as("new_component"))
      .where(col("new_component") =!= col("component"))
    // 4: batch survivorship + gates.
    val bLabels = newLabels.join(broadcast(batchIds), Seq("doc_id"), "left_semi")
    val bSurv = bLabels.where(col("doc_id") === col("component"))
      .where(dedup.splitCol === "train")
      .where(col("doc_id") % 50 =!= 0) // vacuous for ids ≡ 1 mod 10; the contract
    val gopherPass = text.gopherProfile(batch).where(col("pass")).select("doc_id")
    val contam = dedup.contaminationProfile(
        batchSets.select(col("doc_id"), explode(col("shs")).as("sh")),
        spark.read.parquet(s"$root/evalsh").select("sh"))
      .where(col("drop_doc")).select("doc_id")
    val dsirKeep = sampling.dsirKeepDocs(batch, readLlr(spark, root))
    val bFin = bSurv.select("doc_id", "component")
      .join(gopherPass, Seq("doc_id"), "left_semi")
      .join(contam, Seq("doc_id"), "left_anti")
      .join(dsirKeep, Seq("doc_id"), "left_semi")
    // 5: frozen tokenizer, append pack after the stored total.
    val merges = readMerges(spark, root)
    val baseToks = spark.read.parquet(s"$root/stats")
      .select("total_toks").head().getLong(0)
    val packInput = batch.join(bFin.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), text.bpeTokenCountCol(merges).as("toks"))
      .where(col("toks") > 0)
      .cache()
    val appended = graft.operators.PackingOps.packGlobalFrom(packInput, baseToks)
      .join(bFin, Seq("doc_id"))
      .select("doc_id", "lang", "component", "toks", "cum_before",
        "first_chunk", "last_chunk", "n_chunks")
      .withColumn("state", lit("appended"))
      .transform(Steps.pin) // pin before the manifest/labels upserts below
    // The batch shingle cache has now served both its consumers (the
    // contamination gate above and, transitively, the pinned `appended`);
    // drop it so a long Verify/Bench session doesn't carry it.
    batchSets.unpersist()
    // Base rows: the stored manifest SNAPSHOT (last-writer-wins over the
    // day log) RE-STATED through the touched components; pinned
    // (Steps.pin) BEFORE the artifact appends so the returned frame
    // cannot observe its own updates. Revocation is STICKY: a row a prior
    // delta tombstoned stays revoked (its chunk range is a permanent hole
    // in the append-only stream), though its component keeps tracking
    // further merges; a prior delta's 'appended' rows restate as plain
    // base (they are part of the packed stream now).
    // TORN-RUN RECOVERY (both windows of a first delta that crashed after
    // some artifact publishes but before the stats commit):
    //   - crashed AFTER the manifest day=N publish: the snapshot already
    //     holds this batch's appended rows — restating them as 'base' AND
    //     re-appending them would emit each batch survivor twice, so the
    //     batch's own prior-day rows are anti-joined out of the base side
    //     (a no-op in the normal path, where batch docs are new).
    //   - crashed AFTER the labels publish but BEFORE the manifest one:
    //     `relabel` (the in-memory label diff) is empty because the stored
    //     labels already carry the merge, so revocations would be lost —
    //     the fallback below re-derives each manifest component's final
    //     label from the labels TABLE itself (a rep whose stored label no
    //     longer equals its own id was merged by the torn run). Empty in
    //     the normal path: manifest components are reps, and an untouched
    //     rep's label is its own id.
    val snapshot = manifestSnapshot(spark, root)
    val stored = snapshot.join(broadcast(batchIds), Seq("doc_id"), "left_anti")
    val day = snapshot.agg(coalesce(max("day"), lit(0)).as("d"))
      .head().getInt(0) + 1
    val tornRelabel = lbl.where(col("component") =!= col("doc_id"))
      .select(col("doc_id").as("component"),
        col("component").as("torn_component"))
    // Pinned (Steps.pin) BEFORE the artifact publishes below: both
    // `base` and `changed` derive from this frame, and tornRelabel reads
    // the labels TABLE — evaluating it lazily after the labels upsert
    // would observe this run's own writes.
    val baseRel = stored
      .join(broadcast(relabel), Seq("component"), "left_outer")
      .join(tornRelabel, Seq("component"), "left_outer")
      .withColumn("fin_comp",
        coalesce(col("new_component"), col("torn_component"), col("component")))
      .withColumn("new_state",
        when(col("state") === "revoked", lit("revoked"))
          .when(col("fin_comp") =!= col("doc_id"), lit("revoked"))
          .otherwise(lit("base")))
      .transform(Steps.pin)
    def restated(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("lang"), col("fin_comp").as("component"),
        col("toks"), col("cum_before"), col("first_chunk"), col("last_chunk"),
        col("n_chunks"), col("new_state").as("state"))
    val base = restated(baseRel)
    // Artifact maintenance so tomorrow's delta reads today's state:
    // labels APPEND — exactly the rows this delta changes (relabeled
    // day-1 docs + the batch's own labels) land under their own seq
    // generation of the label log; nothing stored is read back, let
    // alone rewritten — manifest APPEND — this delta's new rows plus
    // ONLY the rows it re-stated (fresh revocation tombstones /
    // component moves, i.e. the relabel-joined slice) land under their
    // own day=N partition ([[graft.ops.MergeSink.compactLog]] /
    // compactKeyLog fold the logs back periodically) — and the 1-row
    // stats refresh.
    val lblBuckets = graft.ops.ArtifactMeta.readBuckets(spark, root, "labels")
    val updLbl = lbl.join(broadcast(relabel), Seq("component"))
      .select(col("doc_id"), col("new_component").as("component"))
      .unionByName(bLabels.select("doc_id", "component"))
      .withColumn("bucket", pmod(col("doc_id"), lit(lblBuckets.toLong)).cast("int"))
    sink.appendLogSeq(updLbl, s"$root/labels",
      graft.ops.ArtifactMeta.AppendFiles, Seq("bucket", "doc_id"))
    val changed = restated(baseRel.where(
      col("new_component").isNotNull || col("torn_component").isNotNull))
    sink.publishPartitionedCols(
      changed.unionByName(appended).withColumn("day", lit(day)),
      s"$root/manifest", Seq("day", "lang"))
    // Stats is the LAST publish — the delta's commit record: once the
    // commit tag is visible here, every artifact mutation above landed.
    sink.publishPartitioned(
      packInput.agg((coalesce(sum("toks"), lit(0L)) + baseToks).as("total_toks"))
        .withColumn("commit", lit(commitTag.getOrElse("delta")))
        .withColumn("bucket", lit(0)),
      s"$root/stats", "bucket")
    // The commit-LOG row lands after stats: once the tag is listable
    // under commits/, the whole delta — artifacts AND stats — landed
    // ([[ArtifactMeta.commit]]; [[ArtifactMeta.isCommitted]] catches
    // delayed duplicates the single stats record cannot).
    ArtifactMeta.commit(spark, root, commitTag.getOrElse("delta"))
    base.unionByName(appended).orderBy("doc_id")
  }

  /** The validator/index/APR API endpoints, served as requests. The rest
    * of [[queries]] are ETL steps, skew operators and batch builds (corpus,
    * platform, training, tokenizer), which a serving harness must not time
    * as requests.
    */
  val endpoints: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipe_index_apr_average" -> (indexAprAverage _),
    "pipe_lsd_wise_apr" -> (lsdWiseApr _),
    "pipe_user_income_mev" -> (userIncomeMev _),
    "pipe_epoch_wise_apr" -> (epochWiseApr _),
    "pipe_apr_between_epochs" -> (aprBetweenEpochs _),
    "pipe_user_income_node_runner" -> (userIncomeNodeRunner _),
    "pipe_average_index_apr" -> (averageIndexApr _),
    "pipe_validator_slot_withdrawals" -> (validatorSlotWithdrawals _),
    "pipe_top_indexes" -> (topIndexes _),
    "pipe_index_epoch_apr" -> (indexEpochApr _),
    "pipe_income_snapshot" -> (incomeSnapshot _),
    "pipe_leaderboard" -> (leaderboard _),
    "pipe_user_income" -> (userIncome _),
    "pipe_daily_apr" -> (dailyApr _))

  val queries: Map[String, (SparkSession, String) => DataFrame] = endpoints ++ Map(
    "pipe_platform_build" -> (platformBuild _),
    "pipe_platform_delta" -> (platformDelta _),
    "pipe_tokenizer_eval" -> (tokenizerEval _),
    "pipe_corpus_report" -> (corpusReport _),
    "pipe_corpus_admission" -> (corpusAdmission _),
    "pipe_corpus_build" -> (corpusBuild _),
    "pipe_training_corpus" -> (trainingCorpus _),
    "pipe_extract_catchup" -> (extractCatchup _),
    "pipe_watermark_align" -> (watermarkAlign _),
    "ops_salted_sum" -> (saltedSum _),
    "ops_bucketed_join" -> (graft.ops.Skew.bucketedJoin _))

  private[pipeline] val epochExpr = "CAST(floor(date_part('epoch', ts)/86400) AS BIGINT)"

  /** Shared income CTE chain mirroring IncomeKernel for DuckDB. */
  private[pipeline] val incomeCte =
    s"""WITH bal AS (
       |  SELECT user_id, $epochExpr AS epoch,
       |         round(sum(value), 6) AS balance,
       |         round(sum(CASE WHEN event_type='purchase' THEN value ELSE 0 END), 6) AS withdrawal
       |  FROM events GROUP BY 1, 2
       |), d AS (
       |  SELECT user_id, epoch, balance,
       |         lag(balance) OVER w AS prev_bal,
       |         lag(withdrawal) OVER w AS prev_wd,
       |         lag(epoch) OVER w AS prev_epoch
       |  FROM bal WINDOW w AS (PARTITION BY user_id ORDER BY epoch)
       |), d2 AS (
       |  SELECT user_id, epoch,
       |         round(balance + prev_wd - prev_bal, 6) AS delta,
       |         min(CASE WHEN epoch - prev_epoch > 1 THEN epoch END)
       |           OVER (PARTITION BY user_id) AS gap_epoch
       |  FROM d
       |), income AS (
       |  SELECT user_id, epoch,
       |         round(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END) OVER cw, 6) AS earnings,
       |         round(sum(CASE WHEN delta < 0 THEN -delta ELSE 0 END) OVER cw, 6) AS losses,
       |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY epoch) - 1 AS BIGINT) AS n_epochs
       |  FROM d2 WHERE gap_epoch IS NULL OR epoch < gap_epoch
       |  WINDOW cw AS (PARTITION BY user_id ORDER BY epoch
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |), apr AS (
       |  SELECT user_id, epoch, earnings, losses,
       |         round(CASE WHEN n_epochs > 0
       |                    THEN earnings * ${IncomeKernel.EpochsPerYear} / (CAST(n_epochs AS DOUBLE) * ${IncomeKernel.AprDenom})
       |                    ELSE 0 END, 6) AS apr
       |  FROM income
       |)""".stripMargin

  /** Composes the published oracles of the constituent operators as
    * subqueries — the SQL moves in lockstep with the operator oracles.
    */
  /** Each metric composes the corresponding operator's published oracle,
    * so the report can never drift from the detailed queries.
    */
  private def corpusReportOracle: String = {
    val comps = graft.operators.DedupOps.oracles("ns_dedup_components")
    val decon = graft.operators.DedupOps.oracles("ns_decontaminate")
    val gopher = graft.operators.TextOps.oracles("ns_text_gopher")
    val langid = graft.operators.TextOps.oracles("ns_text_langid")
    val quality = graft.operators.TextOps.oracles("ns_text_quality")
    s"""SELECT * FROM (
       |SELECT 'n_docs' AS metric, CAST(count(*) AS BIGINT) AS value FROM documents
       |UNION ALL
       |SELECT 'n_ws_tokens', CAST(SUM(len(string_split(text, ' '))) AS BIGINT) FROM documents
       |UNION ALL
       |SELECT 'n_chars', CAST(SUM(length(text)) AS BIGINT) FROM documents
       |UNION ALL
       |SELECT 'n_dup_docs',
       |       (SELECT CAST(count(*) AS BIGINT) FROM documents)
       |     - (SELECT CAST(count(*) AS BIGINT) FROM ($comps) c)
       |UNION ALL
       |SELECT 'n_contaminated',
       |       (SELECT CAST(count(*) AS BIGINT) FROM ($decon) d WHERE drop_doc)
       |UNION ALL
       |SELECT 'n_gopher_pass',
       |       (SELECT CAST(count(*) AS BIGINT) FROM ($gopher) g WHERE pass)
       |UNION ALL
       |SELECT 'n_langs',
       |       (SELECT CAST(count(DISTINCT predicted_lang) AS BIGINT) FROM ($langid) l)
       |UNION ALL
       |SELECT 'n_quality_' || tier, CAST(count(*) AS BIGINT)
       |FROM ($quality) q GROUP BY tier
       |) ORDER BY metric""".stripMargin
  }

  /** The platform-build oracle composes the published pieces in stage
    * order: the recursive component-label closure (the SAME edge CTEs the
    * components/split oracles use — the stored-index path is
    * candidate-identical by construction, banded rows are stored
    * DISTINCT), the split bucket on the component key, the gopher /
    * decontamination / DSIR verdicts as their published oracles, BPE
    * training CTEs over the full corpus, and the shard-offset pack
    * algebra extended with the component column.
    */
  private def platformBuildOracle: String = {
    import graft.operators.SamplingOps.{SampleKeyA, SampleKeyB, SampleKeyP}
    val text = graft.operators.TextOps
    val chunk = graft.operators.PackingOps.ChunkTokens
    val chain = (1 to text.BpeMerges).map { i =>
      s"""e$i AS (SELECT doc_id, replace(s, '|' || l || '|' || r || '|', '|' || l || r || '|') AS s
         |        FROM e${i - 1} CROSS JOIN b$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${graft.operators.DedupOps.componentClosureCtes},
       |spl AS (
       |  SELECT doc_id, component,
       |         ((component * $SampleKeyA + $SampleKeyB) % $SampleKeyP) % 100 AS k
       |  FROM comp),
       |surv AS (
       |  SELECT doc_id, component FROM spl
       |  WHERE k < 80 AND doc_id = component AND doc_id % 50 <> 0),
       |g AS (SELECT doc_id FROM (${text.oracles("ns_text_gopher")}) gg WHERE pass),
       |ctm AS (SELECT doc_id FROM (${graft.operators.DedupOps.oracles("ns_decontaminate")}) dc
       |        WHERE drop_doc),
       |${graft.operators.SamplingOps.dsirCtes},
       |dkeep AS (SELECT doc_id FROM sd WHERE n_grams > 0 AND llr_u > 0),
       |fin AS (
       |  SELECT s.doc_id, s.component FROM surv s
       |  JOIN g USING (doc_id)
       |  JOIN dkeep USING (doc_id)
       |  LEFT JOIN ctm ON s.doc_id = ctm.doc_id
       |  WHERE ctm.doc_id IS NULL),
       |${text.bpeTrainCtes},
       |docw AS (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS wd
       |  FROM documents ddd JOIN fin USING (doc_id)),
       |e0 AS (SELECT doc_id, '|' || regexp_replace(wd, '(.)', '\\1|', 'g') AS s FROM docw),
       |$chain,
       |tok AS (
       |  SELECT doc_id, CAST(sum(len(s) - len(replace(s, '|', '')) - 1) AS BIGINT) AS toks
       |  FROM e${text.BpeMerges} GROUP BY doc_id),
       |tt2 AS (
       |  SELECT d.doc_id, d.lang, fin.component, tok.toks
       |  FROM documents d JOIN tok USING (doc_id) JOIN fin USING (doc_id)
       |  WHERE tok.toks > 0),
       |o2 AS (
       |  SELECT lang, CAST(SUM(toks) AS BIGINT) AS shard_toks
       |  FROM tt2 GROUP BY lang),
       |oo2 AS (
       |  SELECT lang, CAST(COALESCE(SUM(shard_toks) OVER (ORDER BY lang
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS shard_offset
       |  FROM o2),
       |c2 AS (
       |  SELECT doc_id, lang, component, toks,
       |         CAST(COALESCE(SUM(toks) OVER (PARTITION BY lang ORDER BY doc_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_in_shard
       |  FROM tt2)
       |SELECT c2.doc_id, c2.lang, c2.component, c2.toks,
       |       oo2.shard_offset + c2.cum_in_shard AS cum_before,
       |       (oo2.shard_offset + c2.cum_in_shard) // $chunk AS first_chunk,
       |       (oo2.shard_offset + c2.cum_in_shard + c2.toks - 1) // $chunk AS last_chunk,
       |       (oo2.shard_offset + c2.cum_in_shard + c2.toks - 1) // $chunk
       |         - (oo2.shard_offset + c2.cum_in_shard) // $chunk + 1 AS n_chunks
       |FROM c2 JOIN oo2 USING (lang)
       |ORDER BY c2.lang, c2.doc_id""".stripMargin
  }

  /** The incremental-build oracle replays BOTH closures from one
    * scaffold ([[graft.operators.DedupOps.deltaComponentCtes]]): `pcomp`
    * (day-1 labels over the prefix corpus — what the stored artifacts
    * carry) and `comp` (the full-graph labels a CONSISTENT delta must
    * reproduce, including merges and revocations — so a hash match
    * proves the contracted incremental closure equals the full one).
    * Gates are the published per-doc oracles; the DSIR model and the BPE
    * vocabulary train on the PREFIX predicate (the frozen day-1 models);
    * the day-1 pack algebra runs over the prefix survivors and the
    * appended algebra over the batch survivors shifted by the day-1
    * total.
    */
  private def platformDeltaOracle: String = {
    import graft.operators.SamplingOps.{SampleKeyA, SampleKeyB, SampleKeyP}
    val text = graft.operators.TextOps
    val chunk = graft.operators.PackingOps.ChunkTokens
    val chain = (1 to text.BpeMerges).map { i =>
      s"""e$i AS (SELECT doc_id, replace(s, '|' || l || '|' || r || '|', '|' || l || r || '|') AS s
         |        FROM e${i - 1} CROSS JOIN b$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${graft.operators.DedupOps.deltaComponentCtes(c => s"$c % 10 <> 1")},
       |pspl AS (
       |  SELECT doc_id, component,
       |         ((component * $SampleKeyA + $SampleKeyB) % $SampleKeyP) % 100 AS k
       |  FROM pcomp),
       |psurv AS (
       |  SELECT doc_id, component FROM pspl
       |  WHERE k < 80 AND doc_id = component AND doc_id % 50 <> 0),
       |fspl AS (
       |  SELECT doc_id, component,
       |         ((component * $SampleKeyA + $SampleKeyB) % $SampleKeyP) % 100 AS k
       |  FROM comp),
       |bsurv AS (
       |  SELECT doc_id, component FROM fspl
       |  WHERE k < 80 AND doc_id = component AND doc_id % 10 = 1 AND doc_id % 50 <> 0),
       |g AS MATERIALIZED (SELECT doc_id FROM (${graft.operators.TextOps.oracles("ns_text_gopher")}) gg WHERE pass),
       |ctm AS MATERIALIZED (SELECT doc_id FROM (${graft.operators.DedupOps.oracles("ns_decontaminate")}) dc
       |        WHERE drop_doc),
       |${graft.operators.SamplingOps.dsirCtesModelFrom("doc_id % 10 <> 1")},
       |dkeep AS MATERIALIZED (SELECT doc_id FROM sd WHERE n_grams > 0 AND llr_u > 0),
       |pfin AS MATERIALIZED (
       |  SELECT s.doc_id, s.component FROM psurv s
       |  JOIN g USING (doc_id)
       |  JOIN dkeep USING (doc_id)
       |  LEFT JOIN ctm ON s.doc_id = ctm.doc_id
       |  WHERE ctm.doc_id IS NULL),
       |bfin AS MATERIALIZED (
       |  SELECT s.doc_id, s.component FROM bsurv s
       |  JOIN g USING (doc_id)
       |  JOIN dkeep USING (doc_id)
       |  LEFT JOIN ctm ON s.doc_id = ctm.doc_id
       |  WHERE ctm.doc_id IS NULL),
       |fin AS MATERIALIZED (SELECT doc_id FROM pfin UNION ALL SELECT doc_id FROM bfin),
       |${text.bpeTrainCtesFrom("doc_id % 10 <> 1")},
       |docw AS (
       |  SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS wd
       |  FROM documents ddd JOIN fin USING (doc_id)),
       |e0 AS (SELECT doc_id, '|' || regexp_replace(wd, '(.)', '\\1|', 'g') AS s FROM docw),
       |$chain,
       |tok AS MATERIALIZED (
       |  SELECT doc_id, CAST(sum(len(s) - len(replace(s, '|', '')) - 1) AS BIGINT) AS toks
       |  FROM e${text.BpeMerges} GROUP BY doc_id),
       |bt AS MATERIALIZED (
       |  SELECT d.doc_id, d.lang, tok.toks
       |  FROM documents d JOIN tok USING (doc_id) JOIN pfin USING (doc_id)
       |  WHERE tok.toks > 0),
       |bo AS (SELECT lang, CAST(SUM(toks) AS BIGINT) AS shard_toks FROM bt GROUP BY lang),
       |boo AS (
       |  SELECT lang, CAST(COALESCE(SUM(shard_toks) OVER (ORDER BY lang
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS shard_offset
       |  FROM bo),
       |bc2 AS (
       |  SELECT doc_id, lang, toks,
       |         CAST(COALESCE(SUM(toks) OVER (PARTITION BY lang ORDER BY doc_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_in_shard
       |  FROM bt),
       |btot AS (SELECT CAST(COALESCE(SUM(toks), 0) AS BIGINT) AS total FROM bt),
       |at2 AS MATERIALIZED (
       |  SELECT d.doc_id, d.lang, bfin.component, tok.toks
       |  FROM documents d JOIN tok USING (doc_id) JOIN bfin USING (doc_id)
       |  WHERE tok.toks > 0),
       |ao AS (SELECT lang, CAST(SUM(toks) AS BIGINT) AS shard_toks FROM at2 GROUP BY lang),
       |aoo AS (
       |  SELECT lang, CAST(COALESCE(SUM(shard_toks) OVER (ORDER BY lang
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS shard_offset
       |  FROM ao),
       |ac2 AS (
       |  SELECT doc_id, lang, component, toks,
       |         CAST(COALESCE(SUM(toks) OVER (PARTITION BY lang ORDER BY doc_id
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_in_shard
       |  FROM at2)
       |SELECT * FROM (
       |SELECT bc2.doc_id, bc2.lang, comp.component, bc2.toks,
       |       boo.shard_offset + bc2.cum_in_shard AS cum_before,
       |       (boo.shard_offset + bc2.cum_in_shard) // $chunk AS first_chunk,
       |       (boo.shard_offset + bc2.cum_in_shard + bc2.toks - 1) // $chunk AS last_chunk,
       |       (boo.shard_offset + bc2.cum_in_shard + bc2.toks - 1) // $chunk
       |         - (boo.shard_offset + bc2.cum_in_shard) // $chunk + 1 AS n_chunks,
       |       CASE WHEN comp.component = bc2.doc_id THEN 'base' ELSE 'revoked' END AS state
       |FROM bc2 JOIN boo USING (lang) JOIN comp ON comp.doc_id = bc2.doc_id
       |UNION ALL
       |SELECT ac2.doc_id, ac2.lang, ac2.component, ac2.toks,
       |       btot.total + aoo.shard_offset + ac2.cum_in_shard AS cum_before,
       |       (btot.total + aoo.shard_offset + ac2.cum_in_shard) // $chunk AS first_chunk,
       |       (btot.total + aoo.shard_offset + ac2.cum_in_shard + ac2.toks - 1) // $chunk AS last_chunk,
       |       (btot.total + aoo.shard_offset + ac2.cum_in_shard + ac2.toks - 1) // $chunk
       |         - (btot.total + aoo.shard_offset + ac2.cum_in_shard) // $chunk + 1 AS n_chunks,
       |       'appended' AS state
       |FROM ac2 JOIN aoo USING (lang) CROSS JOIN btot
       |) ORDER BY doc_id""".stripMargin
  }

  /** Composes the published gate oracles: Gopher pass bits, a normalized-
    * sha256 candidate-vs-corpus fp join, the parameterized near-dup
    * matches oracle on the admission split, and the decontamination scan
    * filtered to candidates (per-doc contamination is independent of the
    * split, so the shared scan restricts cleanly).
    */
  private def corpusAdmissionOracle: String = {
    val nearDup = graft.operators.DedupOps.nearDupMatchesOracle(
      "a.doc_id % 50 <> 0 AND a.doc_id % 3 <> 0",
      "b.doc_id % 50 <> 0 AND b.doc_id % 3 = 0")
    // Gate 0: the canonical stated DIRECTLY from the doc_id formulas
    // (never parsed) — the hash match proves the Spark-side normalizer.
    val canonSql = graft.operators.DedupOps.synthCanonicalSql("(doc_id // 4)")
    s"""WITH cand AS (
       |  SELECT doc_id FROM documents WHERE doc_id % 50 <> 0 AND doc_id % 3 <> 0),
       |uc AS (SELECT doc_id, $canonSql AS canonical FROM documents
       |       WHERE doc_id % 50 <> 0),
       |ud AS (
       |  SELECT DISTINCT c.doc_id FROM uc c
       |  WHERE c.doc_id % 3 <> 0 AND EXISTS (
       |    SELECT 1 FROM uc o
       |    WHERE o.canonical = c.canonical
       |      AND (o.doc_id % 3 = 0 OR (o.doc_id % 3 <> 0 AND o.doc_id < c.doc_id)))),
       |g AS (SELECT doc_id, pass
       |      FROM (${graft.operators.TextOps.oracles("ns_text_gopher")}) gg),
       |fp AS (SELECT doc_id,
       |              sha256(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fpv
       |       FROM documents),
       |ex AS (SELECT DISTINCT a.doc_id FROM fp a JOIN fp b ON a.fpv = b.fpv
       |       WHERE a.doc_id % 50 <> 0 AND a.doc_id % 3 <> 0
       |         AND b.doc_id % 50 <> 0 AND b.doc_id % 3 = 0),
       |nd AS (SELECT DISTINCT batch_doc AS doc_id FROM ($nearDup) m),
       |ct AS (SELECT doc_id FROM (${graft.operators.DedupOps.oracles("ns_decontaminate")}) dc
       |       WHERE drop_doc AND doc_id % 3 <> 0)
       |SELECT c.doc_id,
       |       (ud.doc_id IS NOT NULL) AS url_dup,
       |       coalesce(g.pass, FALSE) AS gopher_pass,
       |       (ex.doc_id IS NOT NULL) AS exact_dup,
       |       (nd.doc_id IS NOT NULL) AS near_dup,
       |       (ct.doc_id IS NOT NULL) AS contaminated,
       |       (ud.doc_id IS NULL AND coalesce(g.pass, FALSE) AND ex.doc_id IS NULL
       |        AND nd.doc_id IS NULL AND ct.doc_id IS NULL) AS admit
       |FROM cand c
       |LEFT JOIN ud ON c.doc_id = ud.doc_id
       |LEFT JOIN g ON c.doc_id = g.doc_id
       |LEFT JOIN ex ON c.doc_id = ex.doc_id
       |LEFT JOIN nd ON c.doc_id = nd.doc_id
       |LEFT JOIN ct ON c.doc_id = ct.doc_id
       |ORDER BY c.doc_id""".stripMargin
  }

  private def corpusBuildOracle: String = {
    val chunk = graft.operators.PackingOps.ChunkTokens
    s"""WITH surv AS (SELECT doc_id FROM (${graft.operators.DedupOps.oracles("ns_dedup_corpus")}) c),
       |qual AS (SELECT doc_id, tier
       |         FROM (${graft.operators.TextOps.oracles("ns_text_quality")}) q
       |         WHERE tier <> 'low'),
       |lng AS (SELECT doc_id, predicted_lang
       |        FROM (${graft.operators.TextOps.oracles("ns_text_langid")}) l),
       |tok AS (SELECT doc_id,
       |         CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS toks
       |        FROM documents
       |        WHERE len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) > 0),
       |base AS (
       |  SELECT s.doc_id, lng.predicted_lang, qual.tier, tok.toks,
       |         (s.doc_id * ${graft.operators.SamplingOps.SampleKeyA} + ${graft.operators.SamplingOps.SampleKeyB}) % ${graft.operators.SamplingOps.SampleKeyP} AS sample_key
       |  FROM surv s
       |  JOIN qual ON s.doc_id = qual.doc_id
       |  JOIN lng ON s.doc_id = lng.doc_id
       |  JOIN tok ON s.doc_id = tok.doc_id),
       |r AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY predicted_lang
       |              ORDER BY sample_key, doc_id) AS BIGINT) AS sample_rank,
       |         count(*) OVER (PARTITION BY predicted_lang) AS cnt
       |  FROM base),
       |sel AS (SELECT * FROM r WHERE sample_rank <= ceil(cnt * 0.5)),
       |p AS (
       |  SELECT doc_id, predicted_lang, tier, toks, sample_rank,
       |         CAST(COALESCE(SUM(toks) OVER (PARTITION BY predicted_lang
       |              ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |              0) AS BIGINT) AS cum_before
       |  FROM sel)
       |SELECT doc_id, predicted_lang, tier, toks, sample_rank, cum_before,
       |       cum_before // $chunk AS first_chunk,
       |       (cum_before + toks - 1) // $chunk AS last_chunk
       |FROM p ORDER BY predicted_lang, doc_id""".stripMargin
  }

  private def trainingCorpusOracle: String =
    s"""SELECT l.predicted_lang, q.tier, count(*) AS n_docs,
       |       CAST((sum(CAST(round((q.quality_score + 1) * 1e6) AS BIGINT)) * 2
       |             + count(*)) // (count(*) * 2) AS DOUBLE) / 1e6 - 1 AS avg_quality
       |FROM (${graft.operators.DedupOps.oracles("ns_dedup_corpus")}) c
       |JOIN (${graft.operators.TextOps.oracles("ns_text_quality")}) q ON c.doc_id = q.doc_id
       |JOIN (${graft.operators.TextOps.oracles("ns_text_langid")}) l ON c.doc_id = l.doc_id
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  val oracles: Map[String, String] = Map(
    "pipe_epoch_wise_apr" ->
      s"""$incomeCte, r AS (
         |  SELECT user_id, epoch, apr, earnings,
         |         row_number() OVER (PARTITION BY user_id ORDER BY epoch DESC) AS rn,
         |         count(*) OVER (PARTITION BY user_id) AS n
         |  FROM apr),
         |t AS (SELECT user_id, earnings AS total FROM r WHERE rn = 1)
         |SELECT r.user_id, epoch, apr, t.total AS total_deth_earnings
         |FROM r JOIN t ON r.user_id = t.user_id
         |WHERE rn <= 5 AND n >= 5
         |ORDER BY r.user_id, epoch""".stripMargin,
    "pipe_apr_between_epochs" ->
      s"""$incomeCte, f AS (SELECT max(epoch) AS fin FROM apr)
         |SELECT user_id, epoch, earnings
         |FROM apr CROSS JOIN f
         |WHERE epoch >= fin - 7 AND epoch <= fin
         |ORDER BY user_id, epoch""".stripMargin,
    "pipe_user_income_node_runner" ->
      s"""$incomeCte, latest AS (
         |  SELECT user_id, earnings, losses,
         |         row_number() OVER (PARTITION BY user_id ORDER BY epoch DESC) AS rn
         |  FROM apr),
         |j AS (
         |  SELECT user_id, earnings, losses,
         |         round(c_acctbal / 1e4, 6) AS top_up,
         |         CAST(round(earnings * 1e6) AS BIGINT) AS em,
         |         CAST(round(losses * 1e6) AS BIGINT) AS lm,
         |         CAST(round(round(c_acctbal / 1e4, 6) * 1e6) AS BIGINT) AS tm
         |  FROM latest JOIN customer ON user_id = c_custkey
         |  WHERE rn = 1)
         |SELECT user_id,
         |       CAST(((4000000000 - lm + 1000 * tm + 1000000000000) * 2 + 1000) // 2000
         |            - 1000000000 AS DOUBLE) / 1e6 AS validator_slot,
         |       round((24.0 + earnings / 1e3) / (8.0 - losses / 1e3 + top_up), 6)
         |         AS redemption_rate,
         |       CAST(((24000000000 + em) * 2 + 2000) // 4000 AS DOUBLE) / 1e6 AS seth_value
         |FROM j ORDER BY user_id""".stripMargin,
    "pipe_index_apr_average" ->
      s"""$incomeCte, latest AS (
         |  SELECT user_id, earnings, apr,
         |         row_number() OVER (PARTITION BY user_id ORDER BY epoch DESC) AS rn
         |  FROM apr),
         |g AS (
         |  SELECT c_mktsegment,
         |         sum(CAST(round(apr * 1e6) AS BIGINT)) AS k,
         |         round(sum(earnings), 6) AS sum_earnings,
         |         count(*) AS n
         |  FROM latest JOIN customer ON user_id = c_custkey
         |  WHERE rn = 1 GROUP BY c_mktsegment),
         |board AS (
         |  SELECT c_mktsegment,
         |         CAST((k * 2 + n) // (n * 2) AS DOUBLE) / 1e6 AS avg_apr,
         |         sum_earnings
         |  FROM g),
         |gm AS (
         |  SELECT CAST((sum(CAST(round(avg_apr * 1e6) AS BIGINT)) * 2 + count(*))
         |              // (count(*) * 2) AS DOUBLE) / 1e6 AS all_index_apr_average
         |  FROM board)
         |SELECT c_mktsegment AS idx, avg_apr AS index_apr,
         |       all_index_apr_average, sum_earnings AS total_deth_earned
         |FROM board CROSS JOIN gm
         |ORDER BY idx""".stripMargin,
    "pipe_lsd_wise_apr" ->
      s"""$incomeCte, latest AS (
         |  SELECT user_id, earnings, apr,
         |         row_number() OVER (PARTITION BY user_id ORDER BY epoch DESC) AS rn
         |  FROM apr),
         |g AS (
         |  SELECT c_nationkey AS lsd_index,
         |         sum(CAST(round(apr * 1e6) AS BIGINT)) AS k,
         |         count(*) AS n,
         |         round(sum(earnings), 6) AS e
         |  FROM latest JOIN customer ON user_id = c_custkey
         |  WHERE rn = 1 GROUP BY c_nationkey),
         |per_idx AS (
         |  SELECT lsd_index,
         |         CAST((k * 2 + n) // (n * 2) AS DOUBLE) / 1e6 AS a, e
         |  FROM g)
         |SELECT n_nationkey AS lsd_index, n_name AS ticker,
         |       coalesce(e, 0.0) AS earnings, coalesce(a, 0.0) AS apr
         |FROM nation LEFT JOIN per_idx ON n_nationkey = lsd_index
         |ORDER BY lsd_index""".stripMargin,
    "pipe_user_income_mev" ->
      s"""$incomeCte, latest AS (
         |  SELECT user_id, earnings, losses,
         |         row_number() OVER (PARTITION BY user_id ORDER BY epoch DESC) AS rn
         |  FROM apr),
         |cust AS (
         |  SELECT c_custkey, round(c_acctbal / 1e4, 6) AS top_up,
         |         c_custkey % 4 + 1 AS slot
         |  FROM customer)
         |SELECT user_id,
         |       round((24.0 + earnings / 1e3) / (8.0 - losses / 1e3 + top_up), 6)
         |         AS redemption_rate,
         |       CAST(((24000000000 + CAST(round(earnings * 1e6) AS BIGINT)) * slot * 2
         |             + 8000) // 16000 AS DOUBLE) / 1e6 AS seth_value,
         |       CAST(slot AS BIGINT) AS validator_slot
         |FROM latest JOIN cust ON user_id = c_custkey
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "pipe_training_corpus" -> trainingCorpusOracle,
    "pipe_tokenizer_eval" ->
      s"""WITH elig AS (
         |  SELECT doc_id FROM documents
         |  WHERE len(list_filter(string_split(lower(text), ' '),
         |        w -> len(w) > ${graft.operators.TextOps.UniMaxWord})) = 0),
         |t AS (SELECT doc_id, ws_tokens
         |      FROM (${graft.operators.TextOps.oracles("ns_text_tokens")}) tt),
         |b AS (SELECT doc_id, n_bpe_tokens
         |      FROM (${graft.operators.TextOps.oracles("ns_text_bpe_encode")}) bb),
         |u AS (SELECT doc_id, n_pieces AS n_uni_pieces
         |      FROM (${graft.operators.TextOps.oracles("ns_text_unigram_encode")}) uu)
         |SELECT t.doc_id, t.ws_tokens, b.n_bpe_tokens, u.n_uni_pieces,
         |       CASE WHEN b.n_bpe_tokens <= u.n_uni_pieces
         |            THEN 'bpe' ELSE 'unigram' END AS fewer_tokens
         |FROM t JOIN elig USING (doc_id) JOIN b USING (doc_id) JOIN u USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,
    "pipe_platform_build" -> platformBuildOracle,
    "pipe_platform_delta" -> platformDeltaOracle,
    "pipe_corpus_report" -> corpusReportOracle,
    "pipe_corpus_admission" -> corpusAdmissionOracle,
    "pipe_corpus_build" -> corpusBuildOracle,
    "pipe_extract_catchup" ->
      s"""WITH f AS (SELECT max($epochExpr) AS finalized_epoch FROM events),
         |ls AS (SELECT user_id, max($epochExpr) AS last_epoch FROM events GROUP BY user_id),
         |ex AS (
         |  SELECT user_id, unnest(generate_series(last_epoch + 1, finalized_epoch)) AS epoch
         |  FROM ls CROSS JOIN f WHERE last_epoch < finalized_epoch),
         |r AS (
         |  SELECT user_id, epoch,
         |         row_number() OVER (PARTITION BY user_id ORDER BY epoch) AS rn
         |  FROM ex)
         |SELECT user_id, epoch FROM r WHERE rn <= 10
         |ORDER BY user_id, epoch""".stripMargin,
    "pipe_income_snapshot" ->
      s"""$incomeCte, latest AS (
         |  SELECT user_id, epoch AS latest_epoch, earnings, losses, apr,
         |         row_number() OVER (PARTITION BY user_id ORDER BY epoch DESC) AS rn
         |  FROM apr)
         |SELECT user_id, latest_epoch, earnings, losses, apr
         |FROM latest WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "pipe_leaderboard" ->
      s"""$incomeCte, latest AS (
         |  SELECT user_id, earnings, losses, apr,
         |         row_number() OVER (PARTITION BY user_id ORDER BY epoch DESC) AS rn
         |  FROM apr),
         |g AS (
         |  SELECT c_mktsegment,
         |         sum(CAST(round(apr * 1e6) AS BIGINT)) AS k,
         |         round(sum(earnings), 6) AS sum_earnings,
         |         round(sum(losses), 6) AS sum_losses,
         |         count(*) AS n_validators
         |  FROM latest JOIN customer ON user_id = c_custkey
         |  WHERE rn = 1 GROUP BY c_mktsegment),
         |g2 AS (
         |  SELECT c_mktsegment,
         |         CAST((k * 2 + n_validators) // (n_validators * 2) AS DOUBLE) / 1e6 AS avg_apr,
         |         sum_earnings, sum_losses, n_validators
         |  FROM g)
         |SELECT CAST(row_number() OVER (ORDER BY sum_earnings DESC, c_mktsegment ASC) AS BIGINT) AS rank,
         |       c_mktsegment, avg_apr, sum_earnings, sum_losses, n_validators
         |FROM g2 ORDER BY rank""".stripMargin,
    "pipe_user_income" ->
      s"""$incomeCte, per_epoch_k AS (
         |  SELECT epoch, sum(CAST(round(apr * 1e6) AS BIGINT)) AS k, count(*) AS n
         |  FROM apr GROUP BY epoch),
         |per_epoch AS (
         |  SELECT epoch,
         |         CAST((k * 2 + n) // (n * 2) AS DOUBLE) / 1e6 AS portfolio_apr
         |  FROM per_epoch_k),
         |latest AS (
         |  SELECT user_id, epoch, earnings,
         |         row_number() OVER (PARTITION BY user_id ORDER BY epoch DESC) AS rn
         |  FROM apr),
         |threat AS (
         |  SELECT c_custkey, round(coalesce(sum(s_acctbal), 1.0), 6) AS threat_backing
         |  FROM customer LEFT JOIN supplier ON c_nationkey = s_nationkey
         |  GROUP BY c_custkey)
         |SELECT user_id, latest.epoch AS latest_epoch, earnings, portfolio_apr,
         |       round(coalesce(threat_backing, 1.0), 6) AS threat_backing
         |FROM latest
         |JOIN per_epoch ON latest.epoch = per_epoch.epoch
         |LEFT JOIN threat ON user_id = c_custkey
         |WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "pipe_daily_apr" ->
      s"""$incomeCte, r AS (
         |  SELECT user_id, earnings, losses,
         |         row_number() OVER (PARTITION BY user_id ORDER BY epoch DESC) AS rn
         |  FROM apr),
         |g AS (
         |  SELECT user_id,
         |         round(max(earnings) - min(earnings), 6) AS window_earnings,
         |         round(max(losses) - min(losses), 6) AS window_losses,
         |         count(*) AS n
         |  FROM r WHERE rn <= 7 GROUP BY user_id HAVING count(*) >= 5)
         |SELECT user_id, window_earnings, window_losses,
         |       round(CASE WHEN n - 1 > 0
         |                  THEN window_earnings * ${IncomeKernel.EpochsPerYear} / (CAST(n - 1 AS DOUBLE) * ${IncomeKernel.AprDenom})
         |                  ELSE 0 END, 6) AS apr,
         |       n
         |FROM g ORDER BY user_id""".stripMargin,
    "pipe_watermark_align" ->
      s"""WITH bm AS (SELECT user_id, max($epochExpr) AS balance_max FROM events GROUP BY user_id),
         |pm AS (SELECT user_id AS p_user, max($epochExpr) AS withdrawal_max
         |       FROM events WHERE event_type = 'purchase' GROUP BY user_id)
         |SELECT user_id, balance_max, withdrawal_max,
         |       least(balance_max, coalesce(withdrawal_max, balance_max)) AS safe_upper_bound
         |FROM bm LEFT JOIN pm ON user_id = p_user
         |ORDER BY user_id""".stripMargin,
    "ops_salted_sum" ->
      """SELECT user_id, round(sum(value), 6) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "ops_bucketed_join" ->
      """WITH spend AS (
        |  SELECT user_id, round(sum(value), 6) AS total_spend
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
        |clicks AS (
        |  SELECT user_id, count(*) AS n_clicks
        |  FROM events WHERE event_type = 'click' GROUP BY user_id)
        |SELECT user_id, total_spend, n_clicks
        |FROM spend JOIN clicks USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "pipe_top_indexes" ->
      s"""$incomeCte, latest AS (
         |  SELECT user_id, earnings, losses, apr,
         |         row_number() OVER (PARTITION BY user_id ORDER BY epoch DESC) AS rn
         |  FROM apr),
         |g AS (
         |  SELECT c_mktsegment,
         |         sum(CAST(round(apr * 1e6) AS BIGINT)) AS k,
         |         round(sum(earnings), 6) AS sum_earnings,
         |         round(sum(losses), 6) AS sum_losses,
         |         count(*) AS n
         |  FROM latest JOIN customer ON user_id = c_custkey
         |  WHERE rn = 1 GROUP BY c_mktsegment),
         |board AS (
         |  SELECT c_mktsegment,
         |         CAST((k * 2 + n) // (n * 2) AS DOUBLE) / 1e6 AS avg_apr,
         |         sum_earnings, sum_losses
         |  FROM g),
         |t1 AS (SELECT 'sum_earnings' AS metric,
         |              CAST(row_number() OVER (ORDER BY sum_earnings DESC, c_mktsegment ASC) AS BIGINT) AS rank,
         |              c_mktsegment, CAST(sum_earnings AS DOUBLE) AS metric_value FROM board),
         |t2 AS (SELECT 'sum_losses' AS metric,
         |              CAST(row_number() OVER (ORDER BY sum_losses DESC, c_mktsegment ASC) AS BIGINT) AS rank,
         |              c_mktsegment, CAST(sum_losses AS DOUBLE) AS metric_value FROM board),
         |t3 AS (SELECT 'avg_apr' AS metric,
         |              CAST(row_number() OVER (ORDER BY avg_apr DESC, c_mktsegment ASC) AS BIGINT) AS rank,
         |              c_mktsegment, CAST(avg_apr AS DOUBLE) AS metric_value FROM board)
         |SELECT metric, rank, c_mktsegment, metric_value
         |FROM (SELECT * FROM t1 WHERE rank <= 7
         |      UNION ALL SELECT * FROM t2 WHERE rank <= 7
         |      UNION ALL SELECT * FROM t3 WHERE rank <= 7)
         |ORDER BY metric, rank""".stripMargin,
    "pipe_average_index_apr" ->
      s"""WITH base AS ($indexEpochAprOracle),
         |r AS (
         |  SELECT idx, epoch, apr,
         |         row_number() OVER (PARTITION BY idx ORDER BY epoch DESC) AS rn
         |  FROM base),
         |o AS (SELECT epoch, apr AS open_apr FROM base WHERE idx = 'AUTOMOBILE')
         |SELECT r.idx, r.epoch, r.apr, coalesce(open_apr, 0.0) AS open_apr
         |FROM r LEFT JOIN o ON r.epoch = o.epoch
         |WHERE rn <= 5
         |ORDER BY r.idx, r.epoch""".stripMargin,
    "pipe_validator_slot_withdrawals" ->
      s"""WITH wd AS (
         |  SELECT user_id, event_id, $epochExpr AS epoch, round(value, 6) AS amount,
         |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id)
         |              AS BIGINT) AS widx
         |  FROM events WHERE event_type = 'purchase')
         |SELECT user_id, widx, event_id, epoch, amount
         |FROM wd WHERE widx > 2 AND widx <= 5
         |ORDER BY user_id, widx""".stripMargin,
    "pipe_index_epoch_apr" -> indexEpochAprOracle)

  private[pipeline] lazy val indexEpochAprOracle: String =
      s"""$incomeCte, g AS (
         |  SELECT c_mktsegment AS idx, epoch,
         |         sum(CAST(round(apr * 1e6) AS BIGINT)) AS k,
         |         count(*) AS n,
         |         round(sum(earnings), 6) AS earnings,
         |         round(sum(losses), 6) AS losses
         |  FROM apr JOIN customer ON user_id = c_custkey
         |  GROUP BY 1, 2),
         |ga AS (
         |  SELECT idx, epoch,
         |         CAST((k * 2 + n) // (n * 2) AS DOUBLE) / 1e6 AS apr,
         |         earnings, losses
         |  FROM g),
         |nb AS (
         |  SELECT idx, epoch, apr, earnings, losses,
         |         lag(apr)  OVER (PARTITION BY idx ORDER BY epoch) AS prev,
         |         lead(apr) OVER (PARTITION BY idx ORDER BY epoch) AS next
         |  FROM ga)
         |SELECT idx, epoch, apr, earnings, losses FROM nb
         |WHERE NOT (prev IS NOT NULL AND next IS NOT NULL
         |           AND apr <> 0.0
         |           AND abs(apr - prev) > apr * 0.1
         |           AND abs(apr - next) > apr * 0.1)
         |ORDER BY idx, epoch""".stripMargin
}
