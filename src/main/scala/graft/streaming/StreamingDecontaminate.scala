package graft.streaming

import graft.ops.Steps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming decontamination — the ingest-time form of
  * [[graft.operators.DedupOps.nsDecontaminate]]: every arriving document
  * is shingled and checked against the (static, broadcast) eval-set
  * shingle index; contaminated documents are dropped BEFORE they land in
  * the corpus, instead of being scrubbed by a nightly batch scan.
  *
  * Scale posture: the probe index is the distinct shingle set of the eval
  * suites — a fixed, broadcast-sized frame (pinned once, at
  * stream start); per-batch work is O(batch shingles), never O(corpus).
  * Idempotency: each batch overwrites its own `batch_id=` directory, so
  * foreachBatch replays replace rather than duplicate — the same contract
  * as [[StreamingDedup.nearDupAdmission]], minus the growing index (the
  * probe set is static by definition).
  */
object StreamingDecontaminate {

  /** readStream docs → drop contaminated → append admitted rows to
    * `outPath` (one overwrite-idempotent dir per batch).
    */
  def admissionStream(
      docStream: DataFrame,
      probeDocs: DataFrame,
      outPath: String,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val dedup = graft.operators.DedupOps
    val benchSh = dedup.shingles(probeDocs).select("sh").distinct()
      .transform(Steps.pin)
    docStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val drops = dedup.contaminationProfile(dedup.shingles(batch), benchSh)
          .where(col("drop_doc")).select("doc_id")
        batch.join(drops, Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
