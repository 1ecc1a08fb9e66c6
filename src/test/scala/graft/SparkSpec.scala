package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

  protected def collectAllPlans(p: SparkPlan): Seq[SparkPlan] =
    (p +: p.children.flatMap(collectAllPlans)) ++
      p.subqueries.flatMap(collectAllPlans) ++ (p match {
        case a: AdaptiveSparkPlanExec => collectAllPlans(a.inputPlan)
        case _ => Nil
      })

  /** Final AQE-executed plan nodes: forces execution so every query stage
    * is materialized, then walks AdaptiveSparkPlanExec's CURRENT physical
    * plan and into each stage — the counterpart of [[noAqeNodes]] for
    * pins that must also hold in the mode the bench actually runs
    * (inputPlan-based walks would make absence pins vacuous; the
    * post-execution final plan carries the real operators).
    *
    * CALLER CONTRACT: pass a FRESH build expression (a `def`, or an
    * inline `Ops.query(spark, dir)` call), never a Dataset val already
    * walked by [[noAqeNodes]] — `queryExecution.executedPlan` is a cached
    * lazy val, so a shared val would make this walk re-traverse the
    * AQE-off plan and the pin vacuous.
    */
  protected def aqeFinalNodes(build: => org.apache.spark.sql.DataFrame): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    val df = build
    df.queryExecution.toRdd.foreachPartition(_ => ())
    def walk(p: SparkPlan): Seq[SparkPlan] =
      (p +: p.children.flatMap(walk)) ++ p.subqueries.flatMap(walk) ++ (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ => Nil
      })
    val nodes = walk(df.queryExecution.executedPlan)
    assert(nodes.exists(_.nodeName.toLowerCase.contains("scan")),
      s"AQE plan walk found no scan — traversal broken:\n${nodes.map(_.nodeName)}")
    nodes
  }

  /** Plan nodes with AQE off: AdaptiveSparkPlanExec.inputPlan is
    * pre-EnsureRequirements (NO exchanges yet), so any exchange-counting
    * pin against it passes vacuously. A plain executedPlan carries the
    * real ShuffleExchangeExec nodes.
    */
  protected def noAqeNodes(build: => org.apache.spark.sql.DataFrame): Seq[SparkPlan] = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val nodes = collectAllPlans(build.queryExecution.executedPlan)
      assert(nodes.exists(_.nodeName.toLowerCase.contains("scan")),
        s"plan walk found no scan — traversal broken:\n${nodes.map(_.nodeName)}")
      assert(!nodes.exists(_.isInstanceOf[AdaptiveSparkPlanExec]),
        "AQE still on — exchange counts would be vacuous")
      nodes
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}

object SparkSpec {
  lazy val session: SparkSession = Driver.session(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
}
