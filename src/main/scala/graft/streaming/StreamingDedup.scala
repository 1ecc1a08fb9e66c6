package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming exact deduplication — the ingest-time form of
  * [[graft.operators.DedupOps.nsDedupExact]] for a continuous document
  * feed (the training-data-pipeline analog of the reference's idempotent
  * upsert sinks, /root/reference/src/utils/data_utils.py:10-15).
  *
  * Keeps the FIRST arrival of each content fingerprint and expires
  * fingerprint state once the event-time watermark passes the horizon.
  * Global exact dedup over an unbounded stream needs unbounded state;
  * bounding it to the watermark horizon is the production pattern — state
  * is O(documents per horizon), hash-partitioned by fingerprint across the
  * cluster, and a (rare) re-arrival beyond the horizon falls through to
  * the batch dedup downstream.
  */
object StreamingDedup {

  /** Drop duplicate documents (by normalized-text sha256) arriving within
    * `horizon` of the first occurrence. Input needs an event-time column
    * `ts`; output carries the fingerprint for downstream survivorship.
    */
  def dedupStream(docs: DataFrame, horizon: String = "1 day"): DataFrame =
    docs
      .withColumn("fp", sha2(regexp_replace(lower(col("text")), "\\s+", " "), 256))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming NEAR-dup admission: each arriving micro-batch of documents
    * is checked against the corpus's near-dup index (banded MinHash
    * signatures + shingle sets); documents with a near-dup in the index
    * are dropped, the rest land in `outPath` AND their signatures fold
    * into the index — so a near-dup of a document admitted in batch N is
    * rejected in batch N+1, not re-admitted. Admission math is the
    * oracled `ns_dedup_incremental`'s by construction (both run through
    * `matchAgainstIndex`). Per-batch work is O(batch + matching band
    * buckets), never O(corpus).
    *
    * Idempotency under foreachBatch's at-least-once contract: each batch
    * overwrites its own `batch_id=` directory, so a replay replaces rather
    * than duplicates, and the index extension keys replays on the batch
    * that admitted each row ([[AdmissionExtension]]).
    */
  def nearDupAdmission(
      docStream: DataFrame,
      corpusDocs: DataFrame,
      outPath: String,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val dedup = graft.operators.DedupOps
    // The (banded, sets) index grows by each batch's admissions and is
    // rebuilt from the committed sink on a restart: committed batches
    // never replay, so their admissions would otherwise vanish from the
    // index and their near-dups be re-admitted. Batches run sequentially
    // on the stream thread, so the extension needs no lock.
    val ext = AdmissionExtension.nearDup(
      SinkState.priorSink(corpusDocs.sparkSession, outPath), corpusDocs)
    docStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val Seq(idxBanded, idxSets) = ext.indexFor(batchId)
        val dups = dedup.matchAgainstIndex(batch, idxBanded, idxSets)
          .select(col("batch_doc").as("doc_id"))
        // left_anti is unaffected by duplicate right rows — no distinct.
        val sinkDir = s"$outPath/batch_id=$batchId"
        batch.join(dups, Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(sinkDir)
        ext.fold(batchId, batch.sparkSession.read.parquet(sinkDir))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
