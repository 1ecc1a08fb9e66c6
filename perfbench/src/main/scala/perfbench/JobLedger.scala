package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spark work attributed to whatever the calling thread declared through
  * the `perfbench.key` local property when it submitted the job. Local
  * properties travel with each job, so two clients running at once never
  * see each other's jobs, which a time window could not promise.
  */
final class Tally {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var waitMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "executor_run_ms" -> runMs,
    "executor_cpu_ms" -> cpuNs / 1000000L,
    "task_wait_ms" -> waitMs, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes)
}

final class JobLedger extends SparkListener {
  import JobLedger._

  private val tallies = new ConcurrentHashMap[String, Tally]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()

  private def tally(key: String): Tally = tallies.computeIfAbsent(key, _ => new Tally)

  private def keyOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(KeyProperty))).getOrElse(Unattributed)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = keyOf(e.properties)
    e.stageInfos.foreach(s => stageKey.put(s.stageId, key))
    tally(key).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val key = keyOf(e.properties)
    stageKey.put(e.stageInfo.stageId, key)
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, java.lang.Long.valueOf(t)))
    tally(key).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = tally(stageKey.getOrDefault(e.stageId, Unattributed))
    t.tasks += 1
    if (e.reason != Success) t.failedTasks += 1
    val submitted = stageSubmitted.get(e.stageId)
    if (submitted != null && e.taskInfo != null)
      t.waitMs += math.max(0L, e.taskInfo.launchTime - submitted.longValue)
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
    }
  }

  /** Every tally, after the listener bus has delivered all events. */
  def snapshot(sc: SparkContext): Map[String, Tally] = {
    org.apache.spark.ListenerDrain(sc)
    tallies.asScala.toMap
  }
}

object JobLedger {
  val KeyProperty = "perfbench.key"
  val Unattributed = "unattributed"

  def key(workload: String, op: String, phase: String): String = s"$workload|$op|$phase"

  /** Runs `body` with the calling thread's jobs attributed to `key`. */
  def attributed[T](sc: SparkContext, key: String)(body: => T): T = {
    val prev = sc.getLocalProperty(KeyProperty)
    sc.setLocalProperty(KeyProperty, key)
    try body finally sc.setLocalProperty(KeyProperty, prev)
  }
}
