package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** pipe_crawl_delta invariants the oracle can't see from the report
  * alone: physical stream continuity on disk, replay idempotence, and
  * day-0 immutability under the day-partitioned append.
  */
class CrawlDeltaSpec extends SparkSpec {

  /** Per-file (size, CRC32-of-bytes): an equal-length rewrite with
    * different content must not pass the immutability pin.
    */
  private def exportFiles(root: String, day: Int): Map[String, (Long, Long)] = {
    val dir = new java.io.File(s"$root/export/day=$day")
    Option(dir.listFiles).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .flatMap(sh => sh.listFiles.filter(_.getName.endsWith(".parquet"))
        .map { f =>
          val crc = new java.util.zip.CRC32()
          crc.update(java.nio.file.Files.readAllBytes(f.toPath))
          s"${sh.getName}/${f.getName}" -> (f.length(), crc.getValue)
        })
      .toMap
  }

  test("delta append continues the stored stream exactly; replay is byte-idempotent; day-0 files never rewritten") {
    val first = PackingOps.pipeCrawlDelta(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(first.nonEmpty, "crawl delta admitted nothing at sf0.001 — test is vacuous")
    val root = graft.ops.ArtifactMeta.rootFor("crawl_delta", sfDir)
    // The appended rows start EXACTLY at the stored day-1 token total —
    // chunk/shard ids continue the existing stream, no gap, no overlap.
    val baseToks = spark.read.parquet(s"$root/stats")
      .select("total_toks").head().getLong(0)
    val day1Rows = spark.read.parquet(s"$root/export")
      .where(col("day") === 1)
      .select("cum_before", "toks")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(day1Rows.nonEmpty && day1Rows.head._1 == baseToks,
      s"append starts at ${day1Rows.headOption.map(_._1)}, stored total $baseToks")
    // ...and is itself hole-free.
    day1Rows.sliding(2).foreach {
      case Array((c1, t1), (c2, _)) =>
        assert(c2 == c1 + t1, s"hole in the appended stream at $c2")
      case _ => ()
    }
    // At least one touched shard mixes day-0 and day-1 rows (the
    // boundary shard): the report's totals passed through BOTH days'
    // files, so the hash-matched report proves cross-day continuity.
    assert(first.exists(r => r(1).asInstanceOf[Long] > r(2).asInstanceOf[Long]),
      s"no boundary shard mixes days: $first")
    assert(first.forall(r => r(2).asInstanceOf[Long] >= 1L),
      "a touched shard carries no new docs")
    val day0Before = exportFiles(root, 0)
    assert(day0Before.nonEmpty)
    // Replay: same report, and day=0 files untouched (the publish swap
    // unit is the day=1 subtree only).
    val second = PackingOps.pipeCrawlDelta(spark, sfDir).collect().map(_.toSeq).toSeq
    assert(second == first, "crawl delta replay diverged")
    assert(exportFiles(root, 0) == day0Before,
      "replay rewrote day-0 export files")
  }
}
