package graft

import org.apache.spark.sql.{DataFrame, GraftStorage, SparkSession}

/** The one session factory and evaluate/clear path shared by every main
  * and the specs.
  */
object Driver {

  /** Local cores and shuffle partitions: `SPARK_GRAFT_CPUS`, default 4. */
  private val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** A local session on [[cpus]] cores (UTC, nanos-as-long parquet reads,
    * no UI); `confs` are applied last, so they override these defaults.
    */
  def session(confs: (String, String)*): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = confs.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Executes the frame's own physical plan to the last row and returns
    * the row count. Unlike count(), no payload expression is pruned.
    */
  def evaluate(df: DataFrame): Long =
    df.sparkSession.sparkContext.runJob(df.queryExecution.toRdd,
      (it: Iterator[_]) => { var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n }).sum

  /** Drops every cached frame and persisted RDD, which covers the blocks of
    * the steps [[graft.ops.Steps]] pinned, so the next query starts cold
    * and storage does not grow across a run. The blocks go through the
    * same quiet release as `Steps.advance`: `RDD.unpersist` would log a
    * warning for every pinned step.
    */
  def clearState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    sc.getPersistentRDDs.keys.foreach(GraftStorage.unpersistRDD(sc, _, blocking = true))
  }

  /** Contention sentinel: wall of a constant job, in ms. Flat on a quiet
    * box; it inflates when another process shares the cores. One task, so
    * it times compute and scheduling latency, not a many-task fan-out.
    */
  def sentinelMs(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 1000, 1, 1).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e6
  }
}
