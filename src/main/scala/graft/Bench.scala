package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Driver.session()
    // One-time per-JVM warm (framework + plan-family codegen) — see
    // BenchWarm. Whichever query runs first must not be charged it.
    BenchWarm.generic(spark, sfDir)
    BenchWarm.families(spark, sfDir)
    // Contention sentinel (Driver.sentinelMs) timed before every query: if
    // another JVM or process contends for the cores mid-run, the probe
    // inflates in step with the contaminated queries — so a polluted
    // artifact is self-evident (the r3 bench recorded 9-24x regressions on
    // unchanged trivial plans because another sbt JVM shared the box).
    Driver.sentinelMs(spark) // compile/JIT the probe itself once
    // PRE-RUN GATE on the probe itself (round-10): the recorded clean
    // floor is ~43-48 ms median; a pre-run median past 2x that means
    // another process already shares the box and every timing below would
    // be contaminated (the r9 driver artifact ran 287.9 s vs the 227.9 s
    // quiet recording for exactly this reason). Wait-and-retry a few
    // times for the box to drain, then proceed either way but stamp the
    // verdict INTO the artifact — a hot run must be self-evidently hot,
    // never silently recorded as the cost of the code.
    val quietFloorMs = 48.0
    def sentinelMedian(): Double = {
      val xs = (1 to 5).map(_ => Driver.sentinelMs(spark)).sorted
      xs(xs.size / 2)
    }
    var preMed = sentinelMedian()
    var waits = 0
    while (preMed > 2 * quietFloorMs && waits < 3) {
      System.err.println(f"[bench] pre-run sentinel $preMed%.1f ms > 2x quiet floor " +
        f"$quietFloorMs%.1f ms - box is hot, waiting 30s (retry ${waits + 1}/3)")
      Thread.sleep(30000)
      preMed = sentinelMedian()
      waits += 1
    }
    val sentinelVerdict = if (preMed > 2 * quietFloorMs) "hot" else "quiet"
    def clearState(): Unit = {
      // Leftover in-query caches (shingle/signature frames) AND lingering
      // localCheckpoint RDD blocks are dropped OUTSIDE the timed window:
      // each query is measured cold and cannot pressure its alphabetical
      // successors' memory (the r2 bench showed unchanged sub-second ops
      // 2.5-3.9x slower from exactly this). Same cleanup as TimeQ's cold
      // mode, so TimeQ predicts these numbers.
      Driver.clearState(spark)
      // GC settle barrier: the r4 artifact recorded ns_dedup_jaccard at
      // 2.8x its isolated steady time — the only such query — because the
      // preceding heavy dedup neighbors leave the old gen full of dead
      // shuffle/agg buffers and the collection lands inside the next timed
      // window. Collect OUTSIDE the window so each query starts
      // allocator-clean, same as TimeQ's isolated runs. Two passes: the
      // first unlinks, the second reclaims humongous/finalizable regions.
      System.gc(); System.gc()
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val probe = Driver.sentinelMs(spark)
      val t0 = System.nanoTime()
      val countOk = try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      val dt0 = (System.nanoTime() - t0) / 1e9
      // A thrown pass records its NEGATED time-to-failure: distinguishable
      // from a fast success in the artifact, excluded from the totals, and
      // listed under "errors" — a broken query must not read as a fast one.
      val dt = if (countOk) dt0 else -dt0
      clearState()
      // Second timing, full physical evaluation: for a count()-only
      // consumer Catalyst legally prunes payload expressions (a pure
      // projection+window+sort plan collapses to a parquet-footer count),
      // so `queries` under-times payload-heavy plans. `full_s` executes
      // the dataset's own physical plan to the last row. `queries` keeps
      // the count() consumer for continuity with the r1-r3 recordings —
      // the driver's bench gate compares like with like.
      // Measurement conditions: full_s runs after the count pass, so the
      // OS page cache is warm — but it is ambient-warm for BOTH series
      // anyway (BenchWarm touches every fixture table before timing and
      // earlier queries re-read the same files); Spark-level caches are
      // cleared between the passes, and the full plan compiles its own
      // generated classes (different consumer → different codegen).
      val t1 = System.nanoTime()
      val fullOk = try { Driver.evaluate(fn(spark, sfDir)); true }
        catch { case _: Throwable => false }
      val dtFull0 = (System.nanoTime() - t1) / 1e9
      val dtFull = if (fullOk) dtFull0 else -dtFull0
      clearState()
      (name, dt, probe, dtFull)
    }
    // DELIBERATELY-EXACT BASELINES additionally report as their own
    // series: these queries exist as the brute-force truth their
    // approximate twins (ns_sim_neardup_lsh etc.) are measured against,
    // and their own documentation says never to run them at scale — at
    // sf1 the O(N²) all-pairs row alone was ~30 % of the wall, which
    // muddied the headline. The driver contract requires every
    // registered query to stay in `queries`/`full_s` and the recorded
    // totals, so the split is PURELY ADDITIVE: `baselines*` and
    // `total_headline_full_s` (the wall minus the exact baselines) are
    // extra keys; `value`/`total_full_s` still cover every query. The
    // registry declares which queries are baselines (QueryKind).
    val basePart = results.filter(r => SparkEntry.kindOf(r._1) == QueryKind.ExactBaseline)
    def obj(rs: Seq[(String, Double, Double, Double)], f: ((String, Double, Double, Double)) => Double) =
      rs.map(r => s"\"" + r._1 + "\":" + f(r)).mkString("{", ",", "}")
    val qs = obj(results, _._2)
    // Double.toString (locale-independent), never f"%.2f" inside JSON.
    val sent = results.map { case (k, _, p, _) =>
      s"\"" + k + "\":" + (math.round(p * 100) / 100.0)
    }.mkString("{", ",", "}")
    val fulls = obj(results, _._4)
    val baseQs = obj(basePart, _._2)
    val baseFulls = obj(basePart, _._4)
    val total = results.map(_._2).filter(_ >= 0).sum
    val totalFull = results.map(_._4).filter(_ >= 0).sum
    val totalBaseFull = basePart.map(_._4).filter(_ >= 0).sum
    val totalHeadlineFull = totalFull - totalBaseFull
    val errors = results.collect { case (k, d, _, f) if d < 0 || f < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val preStr = (math.round(preMed * 100) / 100.0).toString
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sentinel_ms":$sent,"sentinel_pre_ms":$preStr,"sentinel_floor_ms":$quietFloorMs,"sentinel_verdict":"$sentinelVerdict","full_s":$fulls,"total_full_s":$totalFull,"baselines":$baseQs,"baselines_full_s":$baseFulls,"total_baseline_full_s":$totalBaseFull,"total_headline_full_s":$totalHeadlineFull,"errors":$errors,"sf":"$sfDir"}""")
    spark.stop()
  }
}
