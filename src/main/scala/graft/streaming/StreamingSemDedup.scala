package graft.streaming

import graft.operators.SimilarityOps
import org.apache.spark.sql.DataFrame

/** Streaming SemDeDup admission — the ingest-time twin of
  * [[SimilarityOps.nsSimSemdedup]], mirroring
  * [[StreamingDedup.nearDupAdmission]]'s shape for the EMBEDDING space:
  * each arriving micro-batch of vectors map-side assigns to the corpus's
  * FIXED centroid model, is compared against same-cluster index members
  * only (cosine >= the SemDeDup threshold), and the semantic near-dups
  * are dropped while the rest land in `outPath` AND fold into the
  * cluster index — a semantic twin of a batch-N admission arriving in
  * batch N+1 is rejected, not re-admitted.
  *
  * The centroid model is trained on the CORPUS and held fixed across
  * batches (the paper's regime: cluster once, prune forever) — so
  * admission never re-clusters, restart is deterministic, and per-batch
  * work is O(batch x cluster occupancy), never O(corpus).
  *
  * Idempotency under foreachBatch's at-least-once contract is inherited
  * verbatim from the minhash admission: per-batch overwrite of its own
  * `batch_id=` directory, each batch matched against the extension minus
  * the rows it admitted itself ([[AdmissionExtension]]'s `src_batch`
  * key), and an index extension rebuilt from the sink on restart.
  */
object StreamingSemDedup {

  /** `embStream` needs (vec_id, embedding); admitted vectors land under
    * `outPath/batch_id=N`.
    */
  def semDedupAdmission(
      embStream: DataFrame,
      corpusEmb: DataFrame,
      outPath: String,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val (cents, baseAssign) = SimilarityOps.semIndexMaterialized(corpusEmb)
    // Extension rebuilt from the committed sink on restart — same
    // reasoning as StreamingDedup.nearDupAdmission: committed batches
    // never replay, so their admissions must be re-indexed from the sink
    // or their semantic twins would be re-admitted.
    val ext = AdmissionExtension(SinkState.priorSink(corpusEmb.sparkSession, outPath),
      "vec_id", Seq(baseAssign))(admitted => Seq(SimilarityOps.semAssign(admitted, cents)))
    embStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dups = SimilarityOps
          .semMatchAgainstIndex(batch.select("vec_id", "embedding"),
            ext.indexFor(batchId).head, SimilarityOps.centLits(cents))
          .select(org.apache.spark.sql.functions.col("batch_vec").as("vec_id"))
        val sinkDir = s"$outPath/batch_id=$batchId"
        batch.join(dups, Seq("vec_id"), "left_anti")
          .write.mode("overwrite").parquet(sinkDir)
        ext.fold(batchId, batch.sparkSession.read.parquet(sinkDir))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
