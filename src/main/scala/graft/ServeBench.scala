package graft

import java.util.concurrent.ConcurrentLinkedQueue

import graft.model.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Serving-concurrency micro-harness — the Spark-side analog of the
  * reference's locust load test (/root/reference/test/utils/load_testing.py:
  * N HttpUsers hammering an endpoint): the registry's served queries —
  * the 24 API endpoints ([[QueryKind.Endpoint]]) and the stored-index
  * serves ([[QueryKind.StoredIndexServe]]) — run concurrently from
  * `SPARK_GRAFT_THREADS` driver threads against ONE SparkSession, and the
  * harness reports p50/p95 latency overall and the mean per pipe. Guards
  * the serving edge against driver-side contention regressions
  * (catalog/analyzer locks, codegen cache churn, scheduler fairness) that
  * a one-query-at-a-time bench can't see. Batch builds
  * (corpus, crawl, platform, training, tokenizer pipes) are not endpoints
  * and are not served.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_THREADS=8 SPARK_GRAFT_ROUNDS=3
  *   sbt "runMain graft.ServeBench"` → one JSON line on stdout.
  */
object ServeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val threads = sys.env.getOrElse("SPARK_GRAFT_THREADS", "8").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ROUNDS", "3").toInt
    val spark = Driver.session(
      // FAIR keeps one heavy pipe from head-of-line-blocking the tiny
      // point lookups — the multi-tenant serving posture.
      "spark.scheduler.mode" -> "FAIR",
      // Long-lived serving session: static dimension frames are persisted
      // once and shared across requests (graft.model.Tables) instead of
      // re-scanned per request by every heavy pipe's joins. Bounded (the
      // five enumerated dims only); facts still stream.
      "spark.graft.serving.cacheDims" -> "true",
      // ...and the income state is materialized once per session — the
      // reference's API reads income tables its poll loops maintain in
      // MySQL; it never recomputes income per request. IncomeKernel
      // .servingIncome is that materialization.
      "spark.graft.serving.cacheIncome" -> "true")

    val queries = SparkEntry.queries
    val pipes = (SparkEntry.ofKind(QueryKind.Endpoint) ++
      SparkEntry.ofKind(QueryKind.StoredIndexServe)).map(n => n -> queries(n))

    // Contention sentinel (the Bench probe, r7 follow-up): a ~1 ms
    // constant-work 1-task probe timed OUTSIDE the concurrent window —
    // once before the warm and once after the workers join. On a quiet
    // box both sit at Bench's ~30-50 ms scheduling floor; an inflated
    // PRE or POST value means another process shared the box and the
    // latency percentiles are contaminated (during the run the box is
    // busy BY DESIGN, so only the bracketing probes are meaningful).
    Driver.sentinelMs(spark) // compile/JIT the probe once
    val sentinelPre = Driver.sentinelMs(spark)

    // Warm once single-threaded: codegen/footers are per-JVM costs a
    // long-lived serving session has long since paid. The first call of
    // each stored-index serve also builds its artifact (the offline job a
    // serving fleet never re-runs), so the timed calls answer from the
    // files.
    pipes.foreach { case (_, fn) => fn(spark, sfDir).count() }
    // Drop whatever the warm (and the builds) left cached, then rebuild the
    // session's materialized serving state (dims + income snapshot) so
    // request timings measure request work — a long-lived server did this
    // once at boot, exactly like the reference's poll loops populated MySQL
    // before the API ever ran.
    Driver.clearState(spark)
    graft.ops.IncomeKernel.servingIncome(spark, sfDir).count()
    Seq(Tables.customer _, Tables.supplier _, Tables.part _, Tables.nation _,
      Tables.region _).foreach(t => t(spark, sfDir).count())

    // Work queue: every pipe `rounds` times, deterministically shuffled so
    // threads interleave different requests rather than convoying on one.
    val work = new ConcurrentLinkedQueue[(String, (SparkSession, String) => DataFrame)]()
    new scala.util.Random(42).shuffle(Seq.fill(rounds)(pipes).flatten).foreach(work.add)

    val lat = new ConcurrentLinkedQueue[(String, Double, Boolean)]()
    val t0 = System.nanoTime()
    val workers = (1 to threads).map { i =>
      new Thread(() => {
        // One FAIR pool per worker: with scheduler.mode=FAIR the ROOT pool
        // shares fairly across child pools, but all jobs from all threads
        // would otherwise land in the single built-in "default" pool,
        // whose internal order is FIFO — i.e. FAIR would never engage.
        // Dynamically-named pools get weight 1 each = equal sharing.
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"serve$i")
        var item = work.poll()
        while (item != null) {
          val (name, fn) = item
          val s0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).count(); true }
            catch { case e: Throwable =>
              System.err.println(s"[serve] $name failed: ${e.getMessage}")
              false
            }
          lat.add((name, (System.nanoTime() - s0) / 1e6, ok))
          item = work.poll()
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    val wallSec = (System.nanoTime() - t0) / 1e9
    val sentinelPost = Driver.sentinelMs(spark)

    import scala.jdk.CollectionConverters._
    val all = lat.asScala.toSeq
    // Failures must not contaminate the latency stats (a fast-failing
    // query would DEFLATE p50/p95) — report them as their own counter.
    val failures = all.count(!_._3)
    val good = all.filter(_._3)
    val sorted = good.map(_._2).sorted
    def pct(p: Double): Double =
      if (sorted.isEmpty) -1.0 else sorted((p * (sorted.size - 1)).round.toInt)
    def ms(x: Double): String = (math.round(x * 10) / 10.0).toString
    val perPipe = good.groupBy(_._1).toSeq.sortBy(_._1).map { case (n, xs) =>
      s"\"" + n + "\":" + ms(xs.map(_._2).sum / xs.size)
    }.mkString("{", ",", "}")
    // Dedicated (mean, p95) per STORED-INDEX serve row — the serve-only
    // cost table the README records per artifact.
    val ixStats = good.filter(r => SparkEntry.kindOf(r._1) == QueryKind.StoredIndexServe)
      .groupBy(_._1).toSeq
      .sortBy(_._1).map { case (n, xs) =>
        val sortedXs = xs.map(_._2).sorted
        val p95 = sortedXs((0.95 * (sortedXs.size - 1)).round.toInt)
        s"\"" + n + "\":{\"mean_ms\":" + ms(xs.map(_._2).sum / xs.size) +
          ",\"p95_ms\":" + ms(p95) + "}"
      }.mkString("{", ",", "}")
    val qps = math.round(good.size / wallSec * 100) / 100.0
    println(s"""{"metric":"serving_p95_ms","value":${ms(pct(0.95))},"unit":"ms","threads":$threads,"rounds":$rounds,"requests":${all.size},"failures":$failures,"wall_sec":${math.round(wallSec * 100) / 100.0},"qps":$qps,"p50_ms":${ms(pct(0.50))},"p95_ms":${ms(pct(0.95))},"sentinel_pre_ms":${ms(sentinelPre)},"sentinel_post_ms":${ms(sentinelPost)},"mean_per_pipe_ms":$perPipe,"serve_index_ms":$ixStats,"sf":"$sfDir"}""")
    spark.stop()
  }
}
