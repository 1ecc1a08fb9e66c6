package graft.streaming

import graft.ops.ArtifactMeta
import graft.pipeline.Pipelines
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Streaming twin of the INCREMENTAL PLATFORM BUILD
  * ([[Pipelines.platformDeltaBatch]]): each micro-batch of arriving
  * training candidates flows through the stored day-1 artifacts — batch
  * edges against the banded index, contracted-closure relabel, frozen
  * gates (Gopher / stored-evalsh decontamination / frozen DSIR), frozen
  * tokenizer, append pack — and the artifacts (index buckets, labels,
  * manifest day-partition, stats) advance under the trigger instead of a
  * nightly job. The twelfth-pattern composition: the batch path IS the
  * stream path, state lives in the published artifacts.
  *
  * Exactly-once posture: every completed stage appends its tag to the
  * root's COMMIT LOG ([[graft.ops.ArtifactMeta.commit]] — the last
  * publish of the stage, probed with one existence check by
  * [[graft.ops.ArtifactMeta.isCommitted]]; the single-row stats record
  * remains as a fallback that heals a crash between the stats publish
  * and the log row). Each micro-batch runs under tag
  * `batch_<epochId>`; on crash-replay Spark re-delivers the same epoch
  * id — and an at-least-once UPSTREAM may re-feed an old batch long
  * after newer ones committed, which a last-stage-only record cannot
  * detect — and
  *   - tag already committed (log probe, any historical tag) → every
  *     artifact mutation landed; the batch is SKIPPED (a blind re-run
  *     would re-pack the batch after its own tokens);
  *   - tag absent → the partial run never published stats, so packing
  *     still reads the pre-delta total and the replay recomputes
  *     byte-identical artifact rows (index/label upserts are
  *     LWW-idempotent; the manifest day-partition republishes the same
  *     day with the same rows).
  */
object StreamingPlatformDelta {

  /** readStream docs → run each micro-batch as a platform delta over the
    * stored artifacts at `root` (which must already exist — build day 1
    * with [[Pipelines.platformBuildCore]] first). Batches must carry ids
    * disjoint from the indexed corpus and from each other (the arriving-
    * documents contract; re-delivery of the SAME batch is handled by the
    * commit tag).
    */
  def deltaStream(
      docStream: DataFrame,
      root: String,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docStream.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val tag = s"batch_$epochId"
          // Commit-LOG probe first (exact for ANY historical tag — a
          // delayed duplicate from an at-least-once upstream is skipped,
          // not re-run); the stats record is the fallback for a crash
          // between the stats publish and the log row.
          val logged = ArtifactMeta.isCommitted(spark, root, tag)
          val statsMatch = !logged &&
            spark.read.parquet(s"$root/stats")
              .select(col("commit")).head().getString(0) == tag
          // Heal the log when only the stats fallback matched: a crash
          // between the stats publish and the log row left the tag out
          // of the log forever, so a LATER delayed duplicate (after the
          // stats row moved on) would re-run the whole delta — write the
          // missing commit row now, in the skip path.
          if (statsMatch) ArtifactMeta.commit(spark, root, tag)
          if (!(logged || statsMatch)) {
            // Drive the stage to completion: the artifact publishes are
            // eager; the returned re-stated manifest is the artifact's
            // job, not the stream's output.
            Pipelines.platformDeltaBatch(spark, batch, root,
              commitTag = Some(tag)).count()
          }
        }
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
}
