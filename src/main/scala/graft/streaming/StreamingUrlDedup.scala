package graft.streaming

import org.apache.spark.sql.DataFrame

/** Streaming URL-admission gate — the ingest-time form of
  * [[graft.operators.DedupOps.nsDedupUrls]]: a crawler frontier admits a
  * fetched page only if its CANONICAL URL is new, so a canonical match
  * rejects the document before any content work. The cheapest gate in
  * the admission chain, which is why it runs first.
  *
  * Same architecture as [[StreamingDedup.nearDupAdmission]] with an
  * exact key instead of the MinHash index: per batch, canonicalize,
  * keep the smallest doc_id per canonical WITHIN the batch (intra-batch
  * duplicates are routine for URLs — mirrors the batch query's min()
  * survivorship), anti-join the canonicals against corpus ∪ previously
  * admitted, land survivors in their own `batch_id=` directory, and fold
  * them into the in-memory extension. Per-batch work is O(batch) plus
  * one broadcast-scale anti-join probe; never O(corpus) re-scans.
  *
  * Idempotency under foreachBatch's at-least-once contract, exactly the
  * nearDupAdmission recipe: each batch overwrites its own directory, the
  * extension is rebuilt from the sink on restart (the committed truth),
  * and each batch is matched against the extension minus the rows it
  * admitted itself ([[AdmissionExtension]]), so a replayed batch cannot
  * self-reject while a later redelivery is rejected.
  */
object StreamingUrlDedup {

  def urlAdmission(
      docStream: DataFrame,
      corpusUrls: DataFrame,
      outPath: String,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val session = corpusUrls.sparkSession
    val ext = AdmissionExtension.urls(SinkState.priorSink(session, outPath), corpusUrls)
    docStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sinkDir = s"$outPath/batch_id=$batchId"
        AdmissionExtension.newUrls(batch, batchId, ext)
          .write.mode("overwrite").parquet(sinkDir)
        ext.fold(batchId, session.read.parquet(sinkDir))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
