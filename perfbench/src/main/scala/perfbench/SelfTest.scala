package perfbench

import org.apache.spark.sql.SparkSession

/** Checks job attribution under two concurrent clients: each client's
  * jobs and tasks, counted while both run at once, must equal what the
  * same calls launch when run alone.
  */
object SelfTest {
  def attribution(work: String): Unit = {
    val spark = Harness.session(Harness.Opts(work = work, cores = 2), serving = true)
    val sc = spark.sparkContext
    val ledger = new JobLedger
    sc.addSparkListener(ledger)
    // Two different plan shapes, so a misattributed job changes both counts.
    val shapes: Map[String, () => Unit] = Map(
      "a" -> (() => { spark.range(0, 20000, 1, 3).selectExpr("sum(id)").collect(); () }),
      "b" -> (() => { spark.range(0, 20000, 1, 2).groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k")).count().collect(); () }))
    def run(client: String, tag: String, n: Int): Unit =
      (1 to n).foreach(_ => JobLedger.attributed(sc, s"$tag|$client")(shapes(client)()))
    run("a", "solo", 1); run("b", "solo", 1)
    val solo = ledger.snapshot(sc)
    val n = 12
    val threads = Seq("a", "b").map { c =>
      new Thread(() => { sc.setLocalProperty("spark.scheduler.pool", c); run(c, "both", n) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val both = ledger.snapshot(sc)
    val failures = Seq("a", "b").flatMap { c =>
      val s = solo(s"solo|$c"); val b = both(s"both|$c")
      Seq(("jobs", s.jobs, b.jobs), ("stages", s.stages, b.stages), ("tasks", s.tasks, b.tasks))
        .collect { case (what, one, all) if all != n * one =>
          s"client $c: $what $all under concurrency, expected $n x $one" }
    } ++ both.get(JobLedger.Unattributed).filter(_.jobs > 0)
      .map(t => s"${t.jobs} unattributed jobs").toSeq
    spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[selftest] $f"))
      sys.exit(1)
    }
    println("[selftest] job attribution under two concurrent clients: ok")
  }
}
