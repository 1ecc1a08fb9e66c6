package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The analytical core of the engine: per-key ordered cumulative
  * income/loss derivation with withdrawal adjustment and gap cutoff.
  *
  * Semantics derived from the reference's income loop
  * (/root/reference/src/validator_income_handler.py:103-133 and the
  * cold-start variant :138-168) and its financial kernel
  * (/root/reference/src/utils/financials.py:4-34):
  *
  *  - rows are (key, epoch, balance, withdrawal), epoch a discrete time;
  *  - delta_i = balance_i + withdrawal_{i-1} - balance_{i-1}
  *    (withdrawals are indexed by the LOWER epoch of each delta,
  *    validator_income_handler.py:116);
  *  - cumulative earnings = running sum of positive deltas, cumulative
  *    losses = running sum of -negative deltas (financials.py:19-34);
  *  - processing per key STOPS at the first epoch gap > 1
  *    ("Backfiller Needed", validator_income_handler.py:109-111) — rows at
  *    or after the first gap are excluded;
  *  - apr_i = earnings_i / epochs_since_active_i scaled by a constant
  *    annualization factor (financials.py:4-9, constants.py:1-6):
  *    apr = earnings * ONE_GWEI / n * EPOCHS_PER_YEAR / DETH_PRINCIPAL * 100
  *        = earnings * 82179.45 / (n * 2.4e8).
  *
  * DOCUMENTED DEVIATIONS from row-level parity with the reference's
  * Validator_Epoch_Income (deliberate simplifications, not bugs):
  *
  *  - the kernel EMITS a seed row per key (first observed epoch, with
  *    earnings = losses = 0 and epochs_since_active = 0); the reference's
  *    loop starts output at balances[1] and never writes the seed;
  *  - epochs_since_active is rebased to the FIRST OBSERVED epoch
  *    (row_number - 1), whereas the reference's cold-start path seeds it
  *    with balances[0].epoch - activation_epoch (validator_income_handler
  *    .py:141-149); consumers needing activation-based ages must join the
  *    activation epoch and add the offset.
  *
  * Spark-first design: everything is window functions over a single
  * shuffle on `key` — the per-row Python loop of the reference becomes
  * three window passes sharing one partitioning, so Catalyst plans ONE
  * exchange + sort and the cumulative state is free. At 100 TB this is a
  * single hash-partitioned shuffle by key; no driver-side state.
  */
object IncomeKernel {

  /** /root/reference/src/utils/constants.py:1 (EPOCHS_PER_YEAR). */
  val EpochsPerYear = 82179.45

  /** Per-epoch APR denominator: DETH_PRINCIPAL / ONE_GWEI / 100
    * = 24e18 / 1e9 / 100 = 2.4e8 (constants.py:2-3, financials.py:4-9).
    * The single source of truth for every Spark column, streaming kernel,
    * and interpolated oracle-SQL copy of the formula.
    */
  val AprDenom = 240000000.0

  /** Decimal places used to canonicalize float results (SURVEY.md §7.5#3). */
  val Scale = 6

  /** Cumulative income over a (key, epoch, balance, withdrawal) frame.
    * Output columns: key, epoch, earnings, losses, apr, epochs_since_active.
    */
  def cumulativeIncome(
      balances: DataFrame,
      key: String = "user_id",
      epoch: String = "epoch",
      balance: String = "balance",
      withdrawal: String = "withdrawal"): DataFrame = {
    val byKey = Window.partitionBy(key)
    val ordered = byKey.orderBy(epoch)
    val running = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val k = col(key); val e = col(epoch)
    val delta = round(
      col(balance) + lag(col(withdrawal), 1).over(ordered) - lag(col(balance), 1).over(ordered),
      Scale)
    // First epoch (per key) whose distance to its predecessor exceeds 1:
    // everything from there on needs a backfill and is excluded.
    val gapEpoch = min(when(e - lag(e, 1).over(ordered) > 1, e)).over(byKey)

    balances
      .withColumn("_delta", delta)
      .withColumn("_gap_epoch", gapEpoch)
      .where(col("_gap_epoch").isNull || e < col("_gap_epoch"))
      .withColumn("earnings",
        round(sum(when(col("_delta") > 0, col("_delta")).otherwise(0.0)).over(running), Scale))
      .withColumn("losses",
        round(sum(when(col("_delta") < 0, -col("_delta")).otherwise(0.0)).over(running), Scale))
      .withColumn("epochs_since_active", (row_number().over(ordered) - lit(1)).cast("long"))
      .withColumn("apr", aprColumn(col("earnings"), col("epochs_since_active")))
      .select(k, e, col("earnings"), col("losses"), col("apr"), col("epochs_since_active"))
  }

  private val servingIncomeCache = new SessionFrames

  /** The income state every serving pipeline reads — and the engine analog
    * of the reference's architecture, where the API handlers read income
    * MATERIALIZED into MySQL by the poll-loop writers
    * (/root/reference/src/api_handler.py reads tables that
    * validator_income_handler.py maintains) and never recompute it per
    * request. With `spark.graft.serving.cacheIncome=true` (opt-in; set by
    * long-lived serving sessions like ServeBench) the frame is persisted
    * once per (session, dataset) and every request joins against it; in
    * production the same role is played by the incrementally-maintained
    * snapshot of [[graft.streaming.StreamingIncome]]. OFF by default, so
    * Verify and Bench measure the full cache-cold derivation.
    */
  def servingIncome(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    def build = cumulativeIncome(WindowOps.balancesFromEvents(spark, dir))
    if (spark.conf.getOption("spark.graft.serving.cacheIncome").contains("true"))
      servingIncomeCache.persisted(spark, dir)(build)
    else build
  }

  /** APR analog of /root/reference/src/utils/financials.py:4-9:
    * (earnings / n_epochs) annualized against a fixed principal.
    * Pure column arithmetic — no UDF (SURVEY.md §2.10).
    */
  def aprColumn(earnings: Column, nEpochs: Column): Column =
    round(
      when(nEpochs > 0, earnings * EpochsPerYear / (nEpochs.cast("double") * AprDenom))
        .otherwise(0.0),
      Scale)
}
