package graft.pipeline

import graft.SparkSpec
import graft.ops.ArtifactMeta
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The incremental platform build's consistency contract: the delta over
  * the stored day-1 artifacts must reproduce EXACTLY what a full rebuild
  * under the frozen day-1 models (BPE merges + DSIR llr) produces —
  * survivor set, component labels and token counts — while packing as an
  * APPEND (chunk ids continue the stored stream; revoked day-1 rows keep
  * their chunk range as a tombstoned hole).
  */
class PlatformDeltaSpec extends SparkSpec {

  private lazy val root = graft.ops.ProcessTmp.dir("graft_delta_spec")

  test("delta over stored artifacts == full rebuild under frozen day-1 models") {
    val day1Root = s"$root/day1"
    val delta = Pipelines.platformDeltaAt(spark, sfDir, day1Root)
      .collect()
    // The delta's artifact maintenance must not have touched the frozen
    // models: the full-frozen rebuild below reads them from day1Root.
    val full = Pipelines.platformBuildCore(spark, sfDir, s"$root/full",
        lit(true), frozenFrom = Some(day1Root))
      .select("doc_id", "component", "toks")
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val live = delta.filter(_.getAs[String]("state") != "revoked")
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("component"), r.getAs[Long]("toks")))).toMap
    assert(live == full,
      s"live delta rows != frozen full rebuild: " +
        s"only-delta=${(live.keySet -- full.keySet).toSeq.sorted.take(5)} " +
        s"only-full=${(full.keySet -- live.keySet).toSeq.sorted.take(5)} " +
        s"diff=${live.collect { case (k, v) if full.get(k).exists(_ != v) => k }.take(5)}")
    // State sanity: appended rows are batch docs, base/revoked are day-1
    // docs; a revoked row points at the smaller-id component that
    // displaced it, a base row is its own component.
    delta.foreach { r =>
      val (id, comp, st) = (r.getAs[Long]("doc_id"),
        r.getAs[Long]("component"), r.getAs[String]("state"))
      st match {
        case "appended" => assert(id % 10 == 1 && comp == id, s"appended $id")
        case "base"     => assert(id % 10 != 1 && comp == id, s"base $id")
        case "revoked"  => assert(id % 10 != 1 && comp < id, s"revoked $id -> $comp")
        case other      => fail(s"unknown state $other")
      }
    }
    // Append continuity: day-1 rows keep their stored packing (they pack
    // the day-1 stream from 0); the appended segment starts exactly at
    // the day-1 token total and packs contiguously (lang-major,
    // doc_id-minor) after it.
    val day1Rows = delta.filter(_.getAs[String]("state") != "appended")
    val day1Total = day1Rows.map(_.getAs[Long]("toks")).sum
    val appended = delta.filter(_.getAs[String]("state") == "appended")
      .sortBy(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
    var cum = day1Total
    appended.foreach { r =>
      assert(r.getAs[Long]("cum_before") == cum,
        s"append discontinuity at doc ${r.getAs[Long]("doc_id")}: " +
          s"${r.getAs[Long]("cum_before")} != $cum")
      cum += r.getAs[Long]("toks")
    }
    // And the day-1 segment itself is contiguous from 0 in the same
    // order (the stored manifest's packing, untouched by the delta).
    var cumBase = 0L
    day1Rows.sortBy(r => (r.getAs[String]("lang"), r.getAs[Long]("doc_id")))
      .foreach { r =>
        assert(r.getAs[Long]("cum_before") == cumBase,
          s"day-1 discontinuity at doc ${r.getAs[Long]("doc_id")}")
        cumBase += r.getAs[Long]("toks")
      }
    // The refreshed stats artifact carries the post-delta total.
    val stored = spark.read.parquet(s"$day1Root/stats")
      .select("total_toks").head().getLong(0)
    assert(stored == cum, s"stats artifact $stored != appended end $cum")
  }

  test("re-invoking the committed delta replays its output byte-identically without touching artifacts") {
    val r3 = s"$root/replay"
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("component"), r.getAs[Long]("toks"),
        r.getAs[Long]("cum_before"), r.getAs[Long]("first_chunk"),
        r.getAs[Long]("last_chunk"), r.getAs[Long]("n_chunks"),
        r.getAs[String]("state"))
    def inventory: Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(r3))
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .map(f => f.getPath -> ((f.length, f.lastModified))).toMap
    }
    val first = Pipelines.platformDeltaAt(spark, sfDir, r3).collect().map(key)
    val before = inventory
    // Second invocation in the same JVM (exactly what Bench's two timing
    // passes do): the commit record says the delta landed, so this must
    // REPLAY the committed output — not re-run the batch over the
    // post-delta artifacts (which would re-append the batch after its own
    // tokens and resurrect its prior day-log rows as duplicates).
    val second = Pipelines.platformDeltaAt(spark, sfDir, r3).collect().map(key)
    assert(second.map(_._1).distinct.length == second.length,
      s"replay emitted duplicate doc_ids: " +
        second.groupBy(_._1).filter(_._2.length > 1).keys.toSeq.sorted.take(5).toString)
    assert(second.sorted.toSeq == first.sorted.toSeq,
      s"replay != first invocation: first=${first.length} second=${second.length} " +
        s"onlySecond=${(second.toSet -- first.toSet).toSeq.sortBy(_._1).take(3)}")
    assert(inventory == before, "replay rewrote stored artifacts: " +
      (inventory.toSet -- before.toSet).map(_._1).toSeq.sorted.take(5).toString)
  }

  test("delta over a non-default bucket count reads the stored layout and stays exact") {
    val r = s"$root/nbuckets"
    val isB = (c: Column) => c % 10 === 1
    // 32 label buckets — not the 8-bucket floor this corpus would derive.
    Pipelines.platformBuildCore(spark, sfDir, r, !isB(col("doc_id")), buckets = 32)
    assert(graft.ops.ArtifactMeta.readBuckets(spark, r, "labels") == 32)
    assert(spark.read.parquet(s"$r/labels")
      .select("bucket").distinct().count() > 8, "labels layout is not 32-way")
    val delta = Pipelines.platformDeltaStage(spark, sfDir, r, isB).collect()
    val full = Pipelines.platformBuildCore(spark, sfDir, s"$root/nbucketsfull",
        lit(true), frozenFrom = Some(r))
      .select("doc_id", "component", "toks").collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2)))).toMap
    val live = delta.filter(_.getAs[String]("state") != "revoked")
      .map(x => (x.getAs[Long]("doc_id"),
        (x.getAs[Long]("component"), x.getAs[Long]("toks")))).toMap
    assert(live == full, "non-default bucket count broke delta consistency")
  }

  test("torn first delta recovers: both crash windows re-run to the committed output") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("component"), r.getAs[Long]("toks"),
        r.getAs[Long]("cum_before"), r.getAs[Long]("first_chunk"),
        r.getAs[Long]("last_chunk"), r.getAs[Long]("n_chunks"),
        r.getAs[String]("state"))
    // Reference: a clean build + delta at an untouched root.
    val ref = Pipelines.platformDeltaAt(spark, sfDir, s"$root/tornref")
      .collect().map(key).sorted.toSeq
    val isB = (c: Column) => c % 10 === 1
    // A torn root: run build + delta fully, then roll the state back to
    // the chosen crash window. Stats is the LAST publish (the commit
    // record), so in EVERY torn window it still holds the build total.
    def tornRoot(name: String)(rollback: String => Unit): String = {
      val r = s"$root/$name"
      Pipelines.platformBuildCore(spark, sfDir, r, !isB(col("doc_id")))
      val buildToks = spark.read.parquet(s"$r/stats")
        .select("total_toks").head().getLong(0)
      Pipelines.platformDeltaStage(spark, sfDir, r, isB).count()
      rollback(r)
      graft.ops.MergeSink.publishPartitioned(
        spark.range(1).select(lit(buildToks).as("total_toks"),
          lit("build").as("commit"), lit(0).as("bucket")),
        s"$r/stats", "bucket")
      r
    }
    def deleteDay1Manifest(r: String): Unit =
      new java.io.File(s"$r/manifest").listFiles.toSeq
        .filter(f => f.getName.startsWith("day=") && f.getName != "day=0")
        .foreach { d =>
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles).toSeq.flatten.foreach(rm); f.delete()
          }
          rm(d)
        }
    // Window 1 — crashed AFTER the labels (and dedup-index) publishes but
    // BEFORE the manifest one: labels already carry the merge, so the
    // in-memory relabel diff is empty on re-run; revocations must come
    // from the labels-table fallback.
    val rA = tornRoot("tornA")(deleteDay1Manifest)
    val rerunA = Pipelines.platformDeltaAt(spark, sfDir, rA).collect().map(key)
    assert(rerunA.map(_._1).distinct.length == rerunA.length,
      "labels-torn re-run emitted duplicate doc_ids")
    assert(rerunA.sorted.toSeq == ref,
      s"labels-torn re-run != committed delta: " +
        s"only-rerun=${(rerunA.toSet -- ref.toSet).toSeq.sortBy(_._1).take(3)} " +
        s"only-ref=${(ref.toSet -- rerunA.toSet).toSeq.sortBy(_._1).take(3)}")
    // Window 2 — crashed AFTER the manifest day=1 publish, BEFORE the
    // stats commit: the snapshot already holds the batch's appended rows;
    // the re-run must not restate them as base AND re-append them.
    val rB = tornRoot("tornB")(_ => ())
    val rerunB = Pipelines.platformDeltaAt(spark, sfDir, rB).collect().map(key)
    assert(rerunB.map(_._1).distinct.length == rerunB.length,
      "manifest-torn re-run emitted duplicate doc_ids")
    assert(rerunB.sorted.toSeq == ref,
      s"manifest-torn re-run != committed delta: " +
        s"only-rerun=${(rerunB.toSet -- ref.toSet).toSeq.sortBy(_._1).take(3)} " +
        s"only-ref=${(ref.toSet -- rerunB.toSet).toSeq.sortBy(_._1).take(3)}")
    // ...and its artifacts converge: the day log resolves to the same
    // manifest view as the reference root's.
    def view(r: String): Set[(Long, Long, Long, String)] = {
      val w = Window.partitionBy("doc_id").orderBy(col("day").desc)
      spark.read.parquet(s"$r/manifest")
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .select("doc_id", "component", "cum_before", "state").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
    }
    assert(view(rB) == view(s"$root/tornref"),
      "manifest-torn root's resolved manifest view diverged")
  }

  test("commit log detects delayed duplicates for any historical tag") {
    val r2 = s"$root/commitlog"
    val isB1 = (c: Column) => c % 20 === 1
    val isB2 = (c: Column) => c % 20 === 11
    Pipelines.platformBuildCore(spark, sfDir, r2,
      !isB1(col("doc_id")) && !isB2(col("doc_id")))
    assert(ArtifactMeta.isCommitted(spark, r2, "build"), "build tag not logged")
    val docs = graft.model.Tables.documents(spark, sfDir)
    Pipelines.platformDeltaBatch(spark, docs.where(isB1(col("doc_id"))), r2,
      commitTag = Some("batch_1")).count()
    Pipelines.platformDeltaBatch(spark, docs.where(isB2(col("doc_id"))), r2,
      commitTag = Some("batch_2")).count()
    // The single-row stats record only remembers the LAST stage...
    val statsCommit = spark.read.parquet(s"$r2/stats")
      .select("commit").head().getString(0)
    assert(statsCommit == "batch_2")
    // ...so a delayed re-delivery of batch_1 (an at-least-once upstream
    // re-feeding an old batch after newer ones committed) slips past it —
    // the commit LOG is what catches it.
    assert(statsCommit != "batch_1" && ArtifactMeta.isCommitted(spark, r2, "batch_1"),
      "delayed duplicate of batch_1 would re-run a full delta")
    assert(ArtifactMeta.isCommitted(spark, r2, "batch_2"))
    assert(!ArtifactMeta.isCommitted(spark, r2, "batch_3"),
      "an uncommitted tag must not read as committed")
    // Re-recording a tag (the crash-between-stats-and-commit replay
    // window) is an idempotent partition swap, not an error.
    ArtifactMeta.commit(spark, r2, "batch_1")
    assert(ArtifactMeta.isCommitted(spark, r2, "batch_1"))
  }

  test("two consecutive deltas == frozen full rebuild; day-2 writes touch only day=2; compaction preserves the view") {
    val r2 = s"$root/chain"
    val isB1 = (c: Column) => c % 10 === 1
    val isB2 = (c: Column) => c % 10 === 3
    // Day 1: corpus excludes BOTH future batches.
    Pipelines.platformBuildCore(spark, sfDir, r2,
      !isB1(col("doc_id")) && !isB2(col("doc_id")))
    Pipelines.platformDeltaStage(spark, sfDir, r2, isB1).count()
    // File inventory of the manifest log before the second delta.
    def manFiles: Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$r2/manifest"))
        .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
        .map(f => f.getPath -> ((f.length, f.lastModified))).toMap
    }
    val before = manFiles
    val d2 = Pipelines.platformDeltaStage(spark, sfDir, r2, isB2).collect()
    val after = manFiles
    // Append-only: every prior-day file untouched; every new file under
    // day=2 (the second delta's own partition).
    before.foreach { case (p, meta) =>
      assert(after.get(p).contains(meta), s"prior-day manifest file rewritten: $p")
    }
    (after.keySet -- before.keySet).foreach { p =>
      assert(p.contains("day=2"), s"day-2 delta wrote outside day=2: $p")
    }
    assert((after.keySet -- before.keySet).nonEmpty, "day-2 delta wrote nothing")
    // Chained consistency: live rows after delta₂ == a full rebuild over
    // day-1 ∪ batch₁ ∪ batch₂ under the frozen day-1 models ("tomorrow's
    // delta reads today's state", now actually exercised for tomorrow).
    val full = Pipelines.platformBuildCore(spark, sfDir, s"$root/chainfull",
        lit(true), frozenFrom = Some(r2))
      .select("doc_id", "component", "toks").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val live = d2.filter(_.getAs[String]("state") != "revoked")
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("component"), r.getAs[Long]("toks")))).toMap
    assert(live == full,
      s"chained delta != frozen full rebuild: " +
        s"only-delta=${(live.keySet -- full.keySet).toSeq.sorted.take(5)} " +
        s"only-full=${(full.keySet -- live.keySet).toSeq.sorted.take(5)} " +
        s"diff=${live.collect { case (k, v) if full.get(k).exists(_ != v) => k }.take(5)}")
    // Append continuity across BOTH deltas: batch₂ packs after the
    // stored post-delta₁ total.
    val d2Appended = d2.filter(_.getAs[String]("state") == "appended")
    assert(d2Appended.forall(r => r.getAs[Long]("doc_id") % 10 == 3))
    val preTotal = d2.filter(_.getAs[String]("state") != "appended")
      .map(_.getAs[Long]("toks")).sum
    if (d2Appended.nonEmpty)
      assert(d2Appended.map(_.getAs[Long]("cum_before")).min == preTotal,
        "batch-2 append does not start at the stored total")
    // Compaction folds the day log to a single day=0 with an identical
    // resolved view (tombstones survive the fold).
    def snapshot(): Set[(Long, Long, Long, Long, String)] = {
      val w = Window.partitionBy("doc_id").orderBy(col("day").desc)
      spark.read.parquet(s"$r2/manifest")
        .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
        .select("doc_id", "component", "toks", "cum_before", "state")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).toSet
    }
    val viewBefore = snapshot()
    graft.ops.MergeSink.compactLog(spark, s"$r2/manifest",
      Seq("doc_id"), "day", Seq("lang"))
    val dayDirs = new java.io.File(s"$r2/manifest").listFiles.toSeq
      .map(_.getName).filter(_.startsWith("day="))
    assert(dayDirs == Seq("day=0"), s"compaction left $dayDirs")
    assert(snapshot() == viewBefore, "compaction changed the resolved view")
  }
}
