package graft

/** Plan auditor: prints the formatted physical plan of selected queries
  * (all queries if none named). Used to keep the 100 TB posture honest:
  * check PushedFilters/ReadSchema on scans, broadcast vs sort-merge join
  * choices, WholeStageCodegen spans, and exchange counts.
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  *
  * SPARK_GRAFT_EXPLAIN_FINAL=1 EXECUTES each query first (noop-style full
  * evaluation via toRdd) so the printed AdaptiveSparkPlan carries
  * isFinalPlan=true — the runtime plan after AQE's join-strategy
  * rewrites and partition coalescing, which the initial plan only
  * promises ("converts at runtime" claims are checked against THIS).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val finalPlan = sys.env.get("SPARK_GRAFT_EXPLAIN_FINAL").contains("1")
    val spark = Driver.session()
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          println(s"\n========== $name ==========")
          try {
            val df = fn(spark, sfDir)
            if (finalPlan) Driver.evaluate(df)
            println(df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
          }
          catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
        case None => println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
