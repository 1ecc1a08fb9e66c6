package graft.ops

import graft.{Driver, SparkSpec}
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** [[Steps]], the one owner of materialized steps: `advance` releases the
  * predecessor's blocks once the successor is pinned, and the session's
  * cold-state clear drops pinned blocks without a warning per step.
  */
class StepsSpec extends SparkSpec {

  private def rddId(df: DataFrame): Int = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.id
    case p => fail(s"not a pinned step: $p")
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Formatted messages logged through the root logger while `body` runs. */
  private def logged(body: => Unit): Seq[String] = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("steps-spec", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    val root = LogManager.getRootLogger.asInstanceOf[Logger]
    capture.start()
    root.addAppender(capture)
    try body
    finally { root.removeAppender(capture); capture.stop() }
    lines.toArray(Array.empty[String]).toSeq
  }

  test("advance releases the predecessor's blocks; the successor still evaluates") {
    val first = Steps.pin(spark.range(0, 100, 1, 4).toDF("id"))
    val firstId = rddId(first)
    assert(persisted(firstId), "pin left no persisted RDD")
    val second = Steps.advance(first, first.selectExpr("id * 2 AS id"))
    val secondId = rddId(second)
    assert(!persisted(firstId), s"predecessor RDD $firstId still persisted")
    assert(persisted(secondId), s"successor RDD $secondId not persisted")
    assert(second.selectExpr("sum(id)").head().getLong(0) == 9900L)
    Driver.clearState(spark)
  }

  test("advance from a cached frame drops its cache entry") {
    val cached = spark.range(0, 10, 1, 2).toDF("id").cache()
    cached.count()
    val next = Steps.advance(cached, cached.selectExpr("id + 1 AS id"))
    assert(cached.storageLevel == StorageLevel.NONE, "cached predecessor still cached")
    assert(next.count() == 10L)
    Driver.clearState(spark)
  }

  test("Driver.clearState drops pinned blocks without a locally-checkpointed warning") {
    Driver.clearState(spark)
    val step = Steps.pin(spark.range(0, 100, 1, 4).toDF("id"))
    val id = rddId(step)
    val lines = logged {
      Driver.clearState(spark)
      LogManager.getLogger("graft.StepsSpec").warn("capture check")
    }
    assert(lines.contains("capture check"), "the root-logger capture saw nothing")
    assert(!persisted(id), s"pinned RDD $id survived clearState")
    val warned = lines.filter(_.contains("was locally checkpointed"))
    assert(warned.isEmpty, s"clearState warned: ${warned.mkString("; ")}")
  }
}
