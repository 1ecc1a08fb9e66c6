package graft.streaming

import graft.operators.{DedupOps, TextOps}
import graft.ops.Steps
import graft.pipeline.Pipelines
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The COMPLETE ingest admission chain as one stream — the streaming twin
  * of the oracled [[Pipelines.corpusAdmission]] audit, staged cheapest
  * gate first so every early reject skips all later work:
  *
  *   0. URL canonical duplicate — runs when the stream carries a `url`
  *      column and `corpusUrls` is supplied: the [[StreamingUrlDedup]]
  *      gate inline, FIRST because it is the cheapest (string
  *      normalization, no content read — a canonical match skips the
  *      fetch/parse entirely in a real crawler)
  *   1. Gopher quality rules   — stateless projection ([[StreamingQualityGate]])
  *   2. exact corpus duplicate — (doc_id, fp) probe vs corpus + admitted
  *   3. MinHash near-duplicate — banded index vs corpus + admitted
  *      ([[StreamingDedup.nearDupAdmission]]'s machinery)
  *   4. eval contamination     — broadcast probe-shingle scan
  *      ([[StreamingDecontaminate]]'s machinery)
  *
  * Admitted documents land in per-batch overwrite-idempotent dirs AND
  * fold into the exact-fp and near-dup index extensions, so a duplicate
  * of a batch-N admission is rejected in batch N+1. Per-batch admitted
  * sets equal [[Pipelines.admissionVerdicts]] run against
  * corpus + prior admissions (spec-pinned) — the chain early-exits where
  * the audit evaluates every gate, which changes work, not the set.
  *
  * WITHIN-batch CONTENT duplicates are deliberately out of scope, exactly
  * as in [[StreamingDedup.nearDupAdmission]]: collapse within-stream dups
  * upstream with [[StreamingDedup.dedupStream]] (the watermarked exact
  * gate), then admit against history here. The URL gate is the one
  * exception — it applies the smallest-doc_id-per-canonical survivorship
  * WITHIN the batch too (an exact key, costless, and intra-batch URL
  * dups are routine for a crawler frontier), matching the batch audit's
  * min() rule.
  *
  * Replay/restart contract: per-batch dirs overwrite; extension entries
  * are tagged with the batch that ADMITTED them, and gating excludes
  * only entries tagged with the CURRENT batch id — so a replayed batch
  * can't self-reject, while a document redelivered in a LATER batch
  * still meets its earlier admission and is rejected (spec-pinned). On
  * restart every extension is rebuilt, tags included, from the sink's
  * batch_id partition dirs — the committed truth. The three other
  * admission twins share this recipe ([[AdmissionExtension]]).
  *
  * Scale posture: the static gates are metadata-scale broadcasts (probe
  * shingles) or materialized index frames (corpus fps, banded sigs +
  * sets — bucketed tables at 100 TB); per-batch work is O(batch +
  * matching band buckets), never O(corpus).
  */
object StreamingAdmissionChain {

  def admissionStream(
      docStream: DataFrame,
      corpusDocs: DataFrame,
      probeDocs: DataFrame,
      outPath: String,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      corpusUrls: Option[DataFrame] = None,
      onAfterUrlGate: Option[DataFrame => Unit] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val session = corpusDocs.sparkSession
    // Static gate, materialized once at stream start.
    val benchSh = Steps.pin(DedupOps.shingles(probeDocs).select("sh").distinct())
    // Index extensions over the corpus, every admitted row tagged with the
    // batch that admitted it, rebuilt from the sink on restart.
    val prior = SinkState.priorSink(session, outPath)
    def fps(docs: DataFrame): Seq[DataFrame] = Seq(Pipelines.contentFp(docs))
    val extFp = AdmissionExtension(prior, "doc_id", fps(corpusDocs).map(Steps.pin))(fps)
    val extNear = AdmissionExtension.nearDup(prior, corpusDocs)
    // Gate 0 runs when the stream carries a `url` column and corpusUrls is
    // supplied. Its restart rebuild is GUARDED on the prior sink actually
    // carrying `url`: a URL-gated stream restarted over admitted output
    // written BEFORE URL gating existed must start from the empty
    // extension (those admissions have no canonicals to replay), not
    // throw AnalysisException at select("url") on stream start.
    val extUrl = corpusUrls.filter(_ => docStream.columns.contains("url"))
      .map(AdmissionExtension.urls(prior.filter(_.columns.contains("url")), _))
    docStream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // 0. URL canonical dup vs corpus + admitted, with intra-batch
        //    min-doc_id survivorship — BEFORE any content gate touches
        //    the text (the onAfterUrlGate seam lets a spec pin that
        //    ordering).
        val s0 = extUrl.map(AdmissionExtension.newUrls(batch, batchId, _).drop("canonical"))
          .getOrElse(batch)
        onAfterUrlGate.foreach(f => f(s0))
        // 1. Gopher: per-row rules, no state touched.
        val s1 = s0.join(
          TextOps.gopherProfile(s0).where(col("pass")).select("doc_id"),
          Seq("doc_id"), "left_semi")
        // 2. Exact dup vs corpus + admitted. The batch's fingerprints are
        //    micro-scale, so they BROADCAST-probe the (executor-resident)
        //    fp frames — per-batch cost is a scan, never a corpus shuffle
        //    (the bucketed-artifact probe replaces even the scan at
        //    production scale).
        val batchFp = Pipelines.contentFp(s1)
        val dupFp = extFp.indexFor(batchId).head.select("fp")
          .join(broadcast(batchFp.select("fp").distinct()), Seq("fp"), "left_semi")
        val s2 = s1.join(
          batchFp.join(broadcast(dupFp), Seq("fp"), "left_semi").select("doc_id"),
          Seq("doc_id"), "left_anti")
        // 3. Near-dup vs banded index + admitted extension.
        val Seq(idxBanded, idxSets) = extNear.indexFor(batchId)
        val nearIds = DedupOps.matchAgainstIndex(s2, idxBanded, idxSets)
          .select(col("batch_doc").as("doc_id"))
        val s3 = s2.join(nearIds, Seq("doc_id"), "left_anti")
        // 4. Contamination vs the broadcast probe shingles.
        val contamIds = DedupOps
          .contaminationProfile(DedupOps.shingles(s3), benchSh)
          .where(col("drop_doc")).select("doc_id")
        val admittedNow = s3.join(contamIds, Seq("doc_id"), "left_anti")
        val sinkDir = s"$outPath/batch_id=$batchId"
        admittedNow.write.mode("overwrite").parquet(sinkDir)
        // Fold the committed admissions into every extension (reading
        // back from the sink, which a replay would regenerate).
        val admitted = batch.sparkSession.read.parquet(sinkDir)
        (Seq(extFp, extNear) ++ extUrl).foreach(_.fold(batchId, admitted))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }
}
