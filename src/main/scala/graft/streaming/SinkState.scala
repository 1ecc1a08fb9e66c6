package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Restart-time sink readback shared by the four admission twins
  * ([[StreamingDedup.nearDupAdmission]], [[StreamingUrlDedup]],
  * [[StreamingSemDedup]], [[StreamingAdmissionChain]]): the sink is the
  * committed truth their [[AdmissionExtension]] is rebuilt from.
  */
object SinkState {

  /** The sink's committed rows, with the `batch_id` partition column the
    * extension's `src_batch` tags are rebuilt from, or None when this is
    * a genuine first start. ONLY a missing/empty sink means first start;
    * any other read failure (transient FS error, corrupt footer) must
    * propagate — a catch-all fallback would silently restart with an
    * EMPTY index and re-admit near-dups of prior admissions.
    *
    * A sink dir holding ZERO data files (a crash during the very first
    * batch's write leaves only _temporary/ or _SUCCESS markers) is
    * first-start-EQUIVALENT: the checkpoint replays batch 0, and reading
    * it as parquet would otherwise schema-infer-fail on every restart — a
    * permanent crash loop. Hidden-path components (_/. prefixed, at any
    * depth) are exactly what Spark's own file index skips.
    */
  def priorSink(session: SparkSession, outPath: String): Option[DataFrame] = {
    val sinkPath = new org.apache.hadoop.fs.Path(outPath)
    val fs = sinkPath.getFileSystem(session.sparkContext.hadoopConfiguration)
    def hasDataFiles: Boolean = {
      def hidden(p: org.apache.hadoop.fs.Path): Boolean = {
        var cur = p
        while (cur != null && cur.depth > sinkPath.depth) {
          val n = cur.getName
          if (n.startsWith("_") || n.startsWith(".")) return true
          cur = cur.getParent
        }
        false
      }
      val it = fs.listFiles(sinkPath, true)
      while (it.hasNext) if (!hidden(it.next().getPath)) return true
      false
    }
    if (fs.exists(sinkPath) && hasDataFiles)
      Some(session.read.parquet(outPath)).filter(df => !df.isEmpty)
    else None
  }
}
