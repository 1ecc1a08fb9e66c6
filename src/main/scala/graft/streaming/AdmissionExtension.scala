package graft.streaming

import graft.operators.DedupOps
import graft.ops.Steps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number}

/** The admitted-documents extension of a streaming admission twin's
  * index ([[StreamingDedup.nearDupAdmission]],
  * [[StreamingUrlDedup.urlAdmission]], [[StreamingSemDedup]],
  * [[StreamingAdmissionChain]]): the static corpus index (`base`) plus
  * what the stream itself admitted, as index frames whose every row is
  * tagged (`src_batch`) with the batch that admitted it. Each twin
  * supplies only `index`: how admitted rows become its index frames.
  *
  * Replay/restart contract, shared by all four twins:
  *   - each batch is gated against the extension minus the rows tagged
  *     with its OWN id ([[indexFor]]), so a checkpoint replay of batch B
  *     cannot self-reject, while a document redelivered in a LATER batch
  *     still meets its earlier admission and is rejected;
  *   - [[fold]] replaces the batch's earlier contribution with its sink
  *     read-back (the committed truth a replay regenerates) and advances
  *     each frame to the folded one ([[Steps.advance]]);
  *   - on restart the extension is rebuilt, tags included, from the
  *     sink's `batch_id` partition dirs ([[SinkState.priorSink]]).
  */
private[streaming] final class AdmissionExtension private (base: Seq[DataFrame],
    index: DataFrame => Seq[DataFrame], private var frames: Seq[DataFrame]) {
  import AdmissionExtension.Tag

  /** The index batch `batchId` is gated against: base + extension. */
  def indexFor(batchId: Long): Seq[DataFrame] = base.zip(frames).map { case (b, ext) =>
    b.unionByName(ext.where(col(Tag) =!= batchId).drop(Tag))
  }

  /** Folds batch `batchId`'s committed admissions in under its tag. */
  def fold(batchId: Long, admitted: DataFrame): Unit =
    frames = frames.zip(index(admitted)).map { case (ext, add) =>
      Steps.advance(ext, ext.where(col(Tag) =!= batchId)
        .unionByName(add.withColumn(Tag, lit(batchId))))
    }
}

private[streaming] object AdmissionExtension {
  private val Tag = "src_batch"

  /** The extension of `base` rebuilt from the `prior` sink, whose rows
    * meet their `batch_id` tags on `key`; empty on a first start.
    */
  def apply(prior: Option[DataFrame], key: String, base: Seq[DataFrame])(
      index: DataFrame => Seq[DataFrame]): AdmissionExtension = {
    val start = prior match {
      case Some(p) =>
        val tags = p.select(col(key), col("batch_id").cast("long").as(Tag))
        index(p).map(_.join(tags, key))
      case None => base.map(_.limit(0).withColumn(Tag, lit(0L)))
    }
    new AdmissionExtension(base, index, start.map(Steps.pin))
  }

  /** The MinHash near-dup (banded, sets) extension of `corpusDocs`. */
  def nearDup(prior: Option[DataFrame], corpusDocs: DataFrame): AdmissionExtension = {
    def index(docs: DataFrame): Seq[DataFrame] = {
      val (banded, sets) = DedupOps.corpusIndexMaterialized(docs)
      Seq(banded, sets)
    }
    AdmissionExtension(prior, "doc_id", index(corpusDocs))(index)
  }

  /** The (doc_id, canonical) URL extension of `corpusUrls`, whose
    * canonicals carry a sentinel doc_id (-1) no batch can claim.
    */
  def urls(prior: Option[DataFrame], corpusUrls: DataFrame): AdmissionExtension = {
    def canonical = DedupOps.canonicalUrl(col("url")).as("canonical")
    AdmissionExtension(prior, "doc_id",
      Seq(Steps.pin(corpusUrls.select(lit(-1L).as("doc_id"), canonical).distinct())))(
      docs => Seq(docs.select(col("doc_id"), canonical)))
  }

  /** Survivors of the URL gate: the smallest doc_id per canonical within
    * the batch (the batch query's min() rule) whose canonical is new to
    * `urls`' index for this batch; they keep their `canonical` column.
    */
  def newUrls(batch: DataFrame, batchId: Long, urls: AdmissionExtension): DataFrame =
    batch.withColumn("canonical", DedupOps.canonicalUrl(col("url")))
      .withColumn("_rn", row_number().over(Window.partitionBy("canonical").orderBy("doc_id")))
      .where(col("_rn") === 1).drop("_rn")
      // left_anti is unaffected by duplicate right rows — no distinct.
      .join(urls.indexFor(batchId).head.select("canonical"), Seq("canonical"), "left_anti")
}
