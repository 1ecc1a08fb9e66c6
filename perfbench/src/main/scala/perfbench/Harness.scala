package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.SparkEntry
import graft.model.Tables
import graft.ops.IncomeKernel
import graft.pipeline.{Pipelines, ServingEndpoints}

/** One benchmark run inside one JVM: set up a session, warm the workload's
  * operations, run the timed rounds, and write everything measured to
  * `<work>/result.json`. `run.py` builds the inputs, starts this JVM, checks
  * the outputs against the DuckDB oracle and turns the report into metrics.
  *
  * Usage: perfbench.Harness --workload W --data DIR --work DIR --seconds S
  *   --seed N --trace 0|1 [--launch-ms EPOCH_MS] [--verified FILE]
  *        perfbench.Harness --describe FILE
  *        perfbench.Harness --selftest-attribution --work DIR
  */
object Harness {

  /** A workload: its operations in round order and its client count. */
  final case class Workload(name: String, ops: Seq[String], clients: Int, serving: Boolean)

  /** The validator/index/APR endpoints registered in `Pipelines`; the ETL
    * steps and the corpus, crawl, platform, training and tokenizer pipes
    * there are not API endpoints.
    */
  val PipelineEndpoints: Seq[String] = Seq(
    "pipe_index_apr_average", "pipe_lsd_wise_apr", "pipe_user_income_mev",
    "pipe_epoch_wise_apr", "pipe_apr_between_epochs",
    "pipe_user_income_node_runner", "pipe_average_index_apr",
    "pipe_validator_slot_withdrawals", "pipe_top_indexes",
    "pipe_index_epoch_apr", "pipe_income_snapshot", "pipe_leaderboard",
    "pipe_user_income", "pipe_daily_apr")

  val Workloads: Map[String, Workload] = Seq(
    Workload("serve_endpoints",
      (ServingEndpoints.queries.keys.toSeq ++ PipelineEndpoints).sorted, clients = 2, serving = true),
    Workload("dedup_scale",
      Seq("ns_dedup_jaccard", "ns_dedup_minhash", "ns_dedup_components", "ns_sim_neardup_lsh"),
      clients = 1, serving = false)
  ).map(w => w.name -> w).toMap

  /** Generated-code cache size of the batch workload's session. */
  val BatchCodegenCacheEntries = 2000

  /** Timed rounds of an untraced run, however short `--seconds` is. */
  val MinRounds = 2

  /** Sequential untimed rounds a batch workload runs after its first calls:
    * a batch call's time falls for several rounds while the JIT compiles,
    * and the first sequential round is the steepest part of that slope.
    */
  val BatchWarmRounds = 1

  /** The module layer an operation's constructor belongs to. */
  def layerOf(op: String): String =
    if (Pipelines.queries.contains(op) || ServingEndpoints.queries.contains(op)) "pipeline"
    else "operators"

  val FixtureTables: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "customer" -> Tables.customer _, "documents" -> Tables.documents _,
    "embeddings" -> Tables.embeddings _, "events" -> Tables.events _,
    "lineitem" -> Tables.lineitem _, "nation" -> Tables.nation _,
    "orders" -> Tables.orders _, "part" -> Tables.part _,
    "region" -> Tables.region _, "supplier" -> Tables.supplier _)

  final case class Call(
      op: String, client: Int, round: Int, startNs: Long, endNs: Long,
      ok: Boolean, digest: String, rows: Int, error: String, joinRows: Long)

  final case class Opts(
      workload: String = "", data: String = "", work: String = "",
      seconds: Double = 10, seed: Long = 1, trace: Boolean = false,
      cores: Int = 4, launchMs: Long = 0,
      describe: String = "", selftest: Boolean = false, verified: String = "")

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--data" :: v :: t => parse(t, o.copy(data = v))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--launch-ms" :: v :: t => parse(t, o.copy(launchMs = v.toLong))
    case "--describe" :: v :: t => parse(t, o.copy(describe = v))
    case "--verified" :: v :: t => parse(t, o.copy(verified = v))
    case "--selftest-attribution" :: t => parse(t, o.copy(selftest = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument: $other")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    if (o.describe.nonEmpty) describe(o.describe)
    else if (o.selftest) SelfTest.attribution(o.work)
    else {
      val w = Workloads.getOrElse(o.workload,
        throw new IllegalArgumentException(s"unknown workload: ${o.workload}"))
      val missing = w.ops.filterNot(SparkEntry.queries.contains)
      require(missing.isEmpty, s"operations not registered: ${missing.mkString(", ")}")
      new Run(w, o).run()
    }
  }

  /** Writes each workload's operations, each operation's layer and its
    * oracle SQL as one JSON object.
    */
  def describe(path: String): Unit = {
    val ops = Workloads.values.flatMap(_.ops).toSeq.distinct.sorted
    val sql = SparkEntry.oracleSql
    Files.writeString(Paths.get(path), Json.obj(Seq(
      "workloads" -> Json.obj(Workloads.toSeq.sortBy(_._1).map { case (n, w) =>
        n -> Json.arr(w.ops.map(Json.str)) }),
      "layers" -> Json.obj(ops.map(op => op -> Json.str(layerOf(op)))),
      "sql" -> Json.obj(ops.map(op => op -> sql.get(op).map(Json.str).getOrElse("null"))))))
  }

  def session(o: Opts, serving: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
    if (!serving)
      // The batch operations generate about 90 classes, just under Spark's
      // default 100-entry codegen cache, which evicts per segment: how many
      // of them recompile each round then depends on each JVM's eviction
      // order (1 to 42 measured), not on the engine. The serving workload's
      // 410 classes overflow the default cache the same way in every JVM,
      // so it keeps Spark's default. NOTES.md has the measurements.
      b.config("spark.sql.codegen.cache.maxEntries", BatchCodegenCacheEntries.toString)
    if (serving)
      // The long-lived serving posture: FAIR pools per client, static
      // dimensions and the income state materialized once per session.
      b.config("spark.scheduler.mode", "FAIR")
        .config("spark.graft.serving.cacheDims", "true")
        .config("spark.graft.serving.cacheIncome", "true")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def digestOf(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach { r => md.update(r.toString.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().take(12).map(b => f"$b%02x").mkString
  }

  /** Join output rows summed over the final (post-AQE) physical plan. */
  object PlanStats extends AdaptiveSparkPlanHelper {
    def joinRows(df: DataFrame): Long =
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** What the JVM spent while a stretch of work ran. */
  final case class JvmWork(cpuMs: Long, jitMs: Long, gcMs: Long, codegenCompiles: Long) {
    def -(b: JvmWork): JvmWork =
      JvmWork(cpuMs - b.cpuMs, jitMs - b.jitMs, gcMs - b.gcMs, codegenCompiles - b.codegenCompiles)
    def json: String = Json.obj(Seq("cpu_ms" -> cpuMs.toString, "jit_ms" -> jitMs.toString,
      "gc_ms" -> gcMs.toString, "codegen_compiles" -> codegenCompiles.toString))
  }

  def jvmWork(): JvmWork = JvmWork(
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1000000L,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    gcMs(),
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

}

final class Run(w: Harness.Workload, o: Harness.Opts) {
  import Harness._

  private val tracer = new Tracer
  private var spark: SparkSession = _
  private val ledger = new JobLedger
  /** CPU, JIT, GC and codegen work of each timed round, traced ones included. */
  private val roundJvm = scala.collection.mutable.ArrayBuffer.empty[JvmWork]
  /** The first output of each operation: rows, schema and digest. */
  private val references =
    new java.util.concurrent.ConcurrentHashMap[String, (Array[Row], org.apache.spark.sql.types.StructType, String)]()

  private def phase[T](op: String, name: String)(body: => T): T =
    if (!tracer.enabled) body
    else tracer.span(name, op) {
      JobLedger.attributed(spark.sparkContext, JobLedger.key(w.name, op, name))(body)
    }

  /** Cold state between batch operations, outside every timed window. */
  private def hygiene(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    System.gc()
  }

  /** One call as a client makes it: construct the DataFrame, collect its rows. */
  private def call(op: String, client: Int, round: Int): Call = {
    val fn = SparkEntry.queries(op)
    tracer.newRequest()
    var df: DataFrame = null
    var rows: Array[Row] = null
    var error = ""
    val t0 = System.nanoTime()
    try tracer.span("request", op) {
      df = phase(op, "construct")(fn(spark, o.data))
      if (tracer.enabled) phase(op, "plan")(df.queryExecution.executedPlan)
      rows = phase(op, "execute")(df.collect())
    } catch {
      case e: Throwable => error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    val t1 = System.nanoTime()
    val joins = if (tracer.enabled && rows != null) PlanStats.joinRows(df) else -1L
    val digest = if (rows != null) digestOf(rows) else ""
    if (rows != null) references.putIfAbsent(op, (rows, df.schema, digest))
    Call(op, client, round, t0, t1, rows != null, digest,
      if (rows != null) rows.length else 0, error, joins)
  }

  private def sentinelMs(): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 1000, 1, 1).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e6
  }

  private def bootServing(): Long = {
    spark.sharedState.cacheManager.clearCache()
    val t0 = System.nanoTime()
    IncomeKernel.servingIncome(spark, o.data).count()
    val boot = System.nanoTime() - t0
    Seq(Tables.customer _, Tables.supplier _, Tables.part _, Tables.nation _, Tables.region _)
      .foreach(read => read(spark, o.data).count())
    boot
  }

  /** A closed loop of `clients` threads: each takes the next operation of
    * `ops` as soon as its previous call returned.
    */
  private def onClients(ops: Seq[String], round: Int, clients: Int = w.clients): Seq[Call] = {
    val queue = new ConcurrentLinkedQueue[String](ops.asJava)
    val calls = new ConcurrentLinkedQueue[Call]()
    val threads = (1 to clients).map { c =>
      new Thread(() => {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client$c")
        var op = queue.poll()
        while (op != null) { calls.add(call(op, c, round)); op = queue.poll() }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    calls.asScala.toSeq
  }

  /** One round of a batch workload: every operation in order, each from a
    * cold state.
    */
  private def batchRound(round: Int): Seq[Call] =
    w.ops.map { op => hygiene(); call(op, 1, round) }

  /** Runs at least `minRounds` rounds and until `seconds` have passed;
    * returns the calls and the round walls.
    */
  private def timedRounds(seconds: Double, minRounds: Int): (Seq[Call], Seq[Long]) = {
    val calls = new ConcurrentLinkedQueue[Call]()
    val walls = scala.collection.mutable.ArrayBuffer.empty[Long]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var round = 1
    while (walls.size < minRounds || System.nanoTime() < deadline) {
      val j0 = jvmWork()
      if (w.serving) {
        val order = new scala.util.Random(o.seed * 1000003L + round).shuffle(w.ops)
        val t0 = System.nanoTime()
        onClients(order, round).foreach(calls.add)
        walls += System.nanoTime() - t0
      } else {
        val cs = batchRound(round)
        cs.foreach(calls.add)
        walls += cs.map(c => c.endNs - c.startNs).sum
      }
      roundJvm += jvmWork() - j0
      round += 1
    }
    hygiene()
    (calls.asScala.toSeq, walls.toSeq)
  }

  def run(): Unit = {
    new File(o.work).mkdirs()
    val setupStart = if (o.launchMs > 0) o.launchMs else ManagementFactory.getRuntimeMXBean.getStartTime
    spark = session(o, w.serving)
    val sessionMs = System.currentTimeMillis() - setupStart
    // Warm: every operation once, on every core at once. The outputs become
    // the references the oracle check reads.
    val warm = onClients(w.ops, 0, o.cores).sortBy(_.startNs)
    val warmRounds = if (w.serving) Nil else (1 to BatchWarmRounds).flatMap(r => batchRound(-r))
    val bootNs = if (w.serving) bootServing() else { hygiene(); 0L }
    val setupMs = System.currentTimeMillis() - setupStart
    sentinelMs()
    val sentinelPre = (1 to 5).map(_ => sentinelMs())
    val gc0 = gcMs()
    val t0 = System.nanoTime()
    // A traced run measures one untraced and one traced round: the per-layer
    // numbers come from the second, the tracing overhead from both.
    val (calls, walls) = if (o.trace) timedRounds(0, 1) else timedRounds(o.seconds, MinRounds)
    val timedNs = System.nanoTime() - t0
    val gcTimed = gcMs() - gc0
    // The traced run repeats the rounds with spans and the listener on;
    // the untraced rounds above give its overhead.
    var traced: (Seq[Call], Seq[Long], Long, Long) = (Nil, Nil, 0L, 0L)
    var modelReads = Seq.empty[(String, Long)]
    var bootTracedNs = 0L
    if (o.trace) {
      spark.sparkContext.addSparkListener(ledger)
      tracer.enabled = true
      val g0 = gcMs()
      val s0 = System.nanoTime()
      val (tc, tw) = timedRounds(0, 1)
      traced = (tc, tw, System.nanoTime() - s0, gcMs() - g0)
      // model layer: one timed Tables.<t> call per fixture
      modelReads = FixtureTables.map { case (t, read) =>
        val a = System.nanoTime()
        phase(s"Tables.$t", "read")(read(spark, o.data))
        t -> (System.nanoTime() - a)
      }
      // ops layer: the serving income materialization, which the serving
      // workload already timed at boot
      if (!w.serving) bootTracedNs = phase("IncomeKernel.servingIncome", "boot") {
        val a = System.nanoTime()
        val df = IncomeKernel.servingIncome(spark, o.data)
        df.persist().count()
        val ns = System.nanoTime() - a
        df.unpersist(true)
        ns
      }
      tracer.enabled = false
    }
    val sentinelPost = (1 to 5).map(_ => sentinelMs())
    val tallies = if (o.trace) ledger.snapshot(spark.sparkContext) else Map.empty[String, Tally]
    // Outputs whose digest an earlier run already checked against the
    // oracle on the same inputs are not written again.
    val verified = if (o.verified.isEmpty) Set.empty[String]
      else Files.readAllLines(Paths.get(o.verified)).asScala.toSet
    val refs = w.ops.flatMap(op => Option(references.get(op)).map(op -> _)).map {
      case (op, (rows, schema, digest)) =>
        val path = s"${o.work}/out/$op"
        val known = verified(s"$op $digest")
        if (!known)
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(path)
        op -> Json.obj(Seq("rows" -> rows.length.toString, "digest" -> Json.str(digest),
          "path" -> (if (known) "null" else Json.str(path))))
    }
    def callJson(c: Call): String = Json.obj(Seq(
      "op" -> Json.str(c.op),
      "client" -> c.client.toString, "round" -> c.round.toString,
      "start_ns" -> (c.startNs - t0).toString, "ms" -> Json.num((c.endNs - c.startNs) / 1e6),
      "ok" -> c.ok.toString, "digest" -> Json.str(c.digest), "rows" -> c.rows.toString,
      "error" -> Json.str(c.error),
      "join_rows" -> c.joinRows.toString))
    val report = Seq(
      "workload" -> Json.str(w.name), "seed" -> o.seed.toString, "cores" -> o.cores.toString,
      "clients" -> w.clients.toString,
      "setup_ms" -> setupMs.toString, "session_ms" -> sessionMs.toString,
      "income_boot_ms" -> Json.num(bootNs / 1e6),
      "warm" -> Json.arr((warm ++ warmRounds).map(callJson)),
      "calls" -> Json.arr(calls.map(callJson)),
      "round_ms" -> Json.arr(walls.map(ns => Json.num(ns / 1e6))),
      "timed_ms" -> Json.num(timedNs / 1e6),
      "round_jvm" -> Json.arr(roundJvm.toSeq.map(_.json)),
      "gc_ms" -> gcTimed.toString,
      "vmhwm_kb" -> vmHwmKb().toString,
      "sentinel_pre_ms" -> Json.arr(sentinelPre.map(Json.num)),
      "sentinel_post_ms" -> Json.arr(sentinelPost.map(Json.num)),
      "references" -> Json.obj(refs)) ++ (if (!o.trace) Nil else Seq(
      "traced_calls" -> Json.arr(traced._1.map(callJson)),
      "traced_round_ms" -> Json.arr(traced._2.map(ns => Json.num(ns / 1e6))),
      "traced_ms" -> Json.num(traced._3 / 1e6),
      "traced_gc_ms" -> traced._4.toString,
      "traced_jvm" -> roundJvm.last.json,
      "model_read_ms" -> Json.obj(modelReads.map { case (t, ns) => t -> Json.num(ns / 1e6) }),
      "income_boot_traced_ms" -> Json.num(bootTracedNs / 1e6),
      "spans" -> Json.arr(tracer.all.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "request" -> s.request.toString,
        "name" -> Json.str(s.name), "op" -> Json.str(s.op),
        "start_ns" -> (s.startNs - t0).toString, "end_ns" -> (s.endNs - t0).toString,
        "thread" -> Json.str(s.thread))))),
      "tallies" -> Json.obj(tallies.toSeq.sortBy(_._1).map { case (k, t) =>
        k -> Json.obj(t.fields.map { case (f, v) => f -> v.toString })
      })))
    Files.writeString(Paths.get(s"${o.work}/result.json"), Json.obj(report))
    spark.stop()
  }
}
