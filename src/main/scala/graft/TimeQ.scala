package graft
/** Dev tool: time named queries 3x each in one warm session at sf0.1 —
  * separates first-call codegen/JIT cost from steady-state runtime.
  * Usage: runMain graft.TimeQ <queryName> [...]
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_CONF="k=v;k=v" sets arbitrary session confs — for
    // bisecting which runtime knob owns an anomaly (e.g.
    // spark.sql.adaptive.enabled=false times the static plan).
    val confs = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";").filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = Driver.session(confs: _*)
    spark.range(1000).selectExpr("sum(id)").collect()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_WARM=1 applies Bench's exact pre-timing warm, so run1
    // here predicts the query's recorded bench number (without it, run1
    // includes the plan-family codegen compile Bench pays before timing).
    if (sys.env.get("SPARK_GRAFT_WARM").contains("1")) {
      BenchWarm.generic(spark, dir)
      BenchWarm.families(spark, dir)
    }
    // SPARK_GRAFT_FULL=1 times the dataset's own physical plan to the last
    // row (Bench's full_s), instead of the count() consumer (Bench's
    // `queries` series) — count() lets Catalyst prune payload expressions.
    val full = sys.env.get("SPARK_GRAFT_FULL").contains("1")
    for (name <- args) {
      val fn = SparkEntry.queries(name)
      for (i <- 1 to 3) {
        val t0 = System.nanoTime()
        if (full) Driver.evaluate(fn(spark, dir)) else fn(spark, dir).count()
        println(f"$name run$i: ${(System.nanoTime()-t0)/1e9}%.2f s")
        // SPARK_GRAFT_COLD=1 measures each run cache-cold like Bench does
        // (run2+ still benefit from JIT warmth — the steady-state signal).
        if (sys.env.get("SPARK_GRAFT_COLD").contains("1")) Driver.clearState(spark)
      }
    }
    spark.stop()
  }
}
