package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders + declared schemas for the driver fixture tables
  * (FIXTURES.md §B). The loaders do NOT use the declared schemas: every
  * [[read]] infers its schema from the parquet footer
  * (`spark.read.parquet(path)`), so a drifted file is read as it is and
  * fails, if at all, only where a query touches the changed column. The
  * StructTypes serve the Structured Streaming file sources, which cannot
  * infer (`eventsRawSchema`, `documentsSchema`); reading with them plus a
  * one-time footer check is ROADMAP item 2(a). Semantics derive from the
  * reference catalog, SURVEY.md §1.4 (reference's
  * src/utils/data_utils.py:10-15).
  */
object Tables {

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The file-stream LANDING convention: ts is a Long of epoch MICROSECONDS
    * (the round-5+ fixtures' native TIMESTAMP(MICROS) resolution; writers
    * land `unix_micros(ts)`). File-source streams use this schema and
    * convert back with `timestamp_micros(ts)`.
    */
  val eventsRawSchema: StructType = StructType(
    eventsSchema.fields.map(f =>
      if (f.name == "ts") f.copy(dataType = LongType) else f))

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  val supplierSchema: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  val partSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType),
    StructField("p_name", StringType),
    StructField("p_brand", StringType),
    StructField("p_type", StringType),
    StructField("p_size", IntegerType),
    StructField("p_retailprice", DoubleType)))

  val nationSchema: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  val regionSchema: StructType = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Every fixture table, in the order BenchWarm reads their footers. */
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Static dimensions eligible for the serving-session cache — bounded
    * by construction: the enumerated dimension tables only, never the
    * fact/corpus tables (events/lineitem/orders/documents/embeddings),
    * which stream at 100 TB. At scale these dims are the
    * broadcast-sized side of every serving join. A cached dim under
    * `spark.sql.autoBroadcastJoinThreshold` is stored in one partition
    * ([[graft.ops.SessionFrames]]), so the aggregates and windows a request
    * runs over it plan no exchange; a request joining two one-partition
    * frames broadcasts the smaller, since a merge join of two
    * `SinglePartition` children re-shuffles both.
    */
  private val DimensionTables = Set("customer", "supplier", "part", "nation", "region")
  private val dimCache = new graft.ops.SessionFrames

  /** Reads a fixture table. With `spark.graft.serving.cacheDims=true`
    * (opt-in, set by long-lived serving sessions like ServeBench; OFF for
    * Verify/Bench so correctness and per-query timings stay cache-cold)
    * the static dimension tables are persisted once per (session, path)
    * and shared across concurrent serving requests — a serving session
    * re-reading an unchanged dimension parquet per request pays scan +
    * decode on every one of its joins for nothing.
    */
  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val cacheOn = DimensionTables(name) &&
      spark.conf.getOption("spark.graft.serving.cacheDims").contains("true")
    if (cacheOn) dimCache.persisted(spark, path)(spark.read.parquet(path))
    else spark.read.parquet(path)
  }

  /** The fixtures store `events.ts` as parquet TIMESTAMP(NANOS), which Spark
    * only reads as a nanosecond LongType (spark.sql.legacy.parquet.nanosAsLong,
    * set in build.sbt / Verify / Bench). Normalize back to TimestampType via
    * integer division — `div` keeps the arithmetic in Long (a double division
    * would lose precision above 2^53 ns).
    */
  private def nanosToTimestamp(df: DataFrame, colName: String): DataFrame =
    if (df.schema(colName).dataType == LongType)
      df.withColumn(colName, org.apache.spark.sql.functions.expr(s"timestamp_micros($colName div 1000)"))
    else df

  def events(spark: SparkSession, dir: String): DataFrame =
    nanosToTimestamp(read(spark, dir, "events"), "ts")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = read(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
