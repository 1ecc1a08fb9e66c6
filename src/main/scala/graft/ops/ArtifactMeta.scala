package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-artifact LAYOUT METADATA — the tiny `meta/` table every stored
  * index carries so its update and serve paths read the layout the build
  * chose instead of re-deriving (or worse, hardcoding) it. Reference
  * analog: a database's own catalog row for a table's partitioning
  * (/root/reference/src/utils/data_utils.py:10-15 leans on MySQL's
  * catalog the same way); a filesystem-table engine has to carry the
  * catalog entry itself.
  *
  * The entry that matters at 100 TB is the BUCKET COUNT. Build-time
  * sizing picks the smallest power of two holding the table at a fixed
  * TARGET BUCKET SIZE (rows per bucket), so bucket count grows with the
  * corpus and bucket size stays ~constant. Incremental maintenance
  * rewrites touched buckets; with fixed-SIZE buckets that rewrite is
  * bounded by min(batch keys, buckets) × target — batch-proportional once
  * the corpus outgrows batch × target. A fixed bucket COUNT (the layout
  * this replaces) made every touched-bucket rewrite corpus-proportional:
  * the round-9 delta sweep measured maintenance shuffle growing 6→160 MB
  * linearly across a 20× corpus at a FIXED 500-doc batch, exactly the
  * metadata pass that would dominate a daily batch at 100×.
  *
  * Layout: `root/meta` rows (k string, v long), partitioned by `k` so
  * builders of sibling tables under one root (the platform build writes
  * the dedup index AND the labels table) publish their entries
  * independently through the same write-audit-publish sink.
  *
  * This module also owns the two other root-level decisions, so no
  * caller derives them: WHERE a root lives ([[rootFor]] — every stored
  * index, platform and crawl root) and WHETHER a stage of it committed
  * ([[commit]] / [[isCommitted]] — the `root/commits` log every gated
  * build, delta and streaming batch writes last and probes first).
  */
object ArtifactMeta {

  /** Floor — below this, bucket pruning saves nothing and directory
    * overhead dominates. Matches the pre-round-10 fixed count, so fixture
    * corpora (≤ 4096 docs at the 512-row target) keep their recorded
    * layout byte-for-byte.
    */
  val MinBuckets = 8

  /** Directory-count ceiling: the publish renames one directory per
    * bucket, so the count must stay far below filesystem listing limits.
    * At the 512-row target this binds at ~8M rows — past that, bucket
    * size grows again (a real deployment would raise the target to a
    * 128 MB-of-bytes rule long before).
    */
  val MaxBuckets = 1 << 14

  /** Target bucket size for doc/node-keyed index tables, in rows of the
    * OWNING entity (docs for a dedup/BM25 index, nodes for the graph).
    * Sizing rationale: maintenance WRITE cost no longer depends on this
    * (immutable tables append, and the remaining upserts move skinny
    * rows), so the target balances file count (each bucket is one file
    * per seq — a 64-doc target measured a 2048-file-per-table build at
    * 100k docs and a 2.4× build-wall regression from per-file overhead)
    * against probe read amplification (a pruned probe reads touched ×
    * target rows). Small by production standards — sized so the
    * 4.5k→99.5k rehearsal sweep exercises the growth rule at all.
    */
  val DocsPerBucket = 512L

  /** Coalesced file count for ONE published generation of a bucketed
    * table ([[MergeSink.publishLogSeq]]): ~8 buckets of data per file,
    * clamped to [1, 32]. The ceiling keeps write parallelism at the local
    * core count while holding per-generation file count INDEPENDENT of
    * the bucket count — the round-10 one-file-per-bucket layout's file
    * count was buckets × generations (256 directories per table at 100k
    * docs), and the delta sweep measured its per-file fixed costs growing
    * the delta wall 2.1× over a 20× corpus at FLAT shuffle.
    */
  def filesFor(buckets: Int): Int = math.max(1, math.min(32, buckets / 8))

  /** File count for a batch-scale APPEND generation: a delta's rows are
    * batch-proportional, so a handful of files per generation bounds the
    * log's file growth at (compaction interval) × [[AppendFiles]] while
    * keeping the append write off the single-task path.
    */
  val AppendFiles = 4

  /** Smallest power of two ≥ rows/targetPerBucket within
    * [[MinBuckets]]..[[MaxBuckets]].
    */
  def bucketsFor(rows: Long, targetPerBucket: Long = DocsPerBucket): Int = {
    require(targetPerBucket > 0, "targetPerBucket must be positive")
    var b = MinBuckets
    while (b < MaxBuckets && rows > b.toLong * targetPerBucket) b <<= 1
    b
  }

  /** Publish metadata entries under `root/meta` (partitioned by key —
    * sibling builders never clobber each other's entries).
    */
  def write(spark: SparkSession, root: String, entries: Map[String, Long]): Unit = {
    import spark.implicits._
    MergeSink.publishPartitioned(
      entries.toSeq.toDF("k", "v").select(col("v"), col("k")),
      s"$root/meta", "k")
  }

  /** Read one entry, failing loud when absent: every update/serve path
    * runs against a built artifact, so a missing entry is a torn or
    * foreign root — silently assuming a default would scatter a batch
    * across the wrong buckets and corrupt the index.
    */
  def readLong(spark: SparkSession, root: String, key: String): Long = {
    val rows =
      try spark.read.parquet(s"$root/meta").where(col("k") === key)
        .select("v").collect()
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalStateException(
            s"artifact meta missing at $root/meta (torn or pre-meta root)", e)
      }
    require(rows.length == 1, s"artifact meta at $root has ${rows.length} rows for '$key'")
    rows.head.getLong(0)
  }

  def readBuckets(spark: SparkSession, root: String, table: String): Int =
    readLong(spark, root, s"buckets.$table").toInt

  /** The per-process home of every artifact root: unique per JVM
    * (concurrent sbt sessions never contend) and removed on exit.
    */
  private lazy val home: String = ProcessTmp.dir("graft_artifacts")

  /** The root of the `kind` artifact built over the corpus at `dir` —
    * the one derivation for every stored index, platform and crawl root.
    * The sanitized dir keeps the path readable; the SHA-256 prefix of
    * the RAW dir keeps two dirs that differ only in special characters
    * ('a/b' vs 'a_b') from colliding onto one root and serving each
    * other's artifacts.
    */
  def rootFor(kind: String, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map(b => f"$b%02x").mkString
    s"$home/${kind}_${dir.replaceAll("[^A-Za-z0-9.]", "_")}_$digest"
  }

  /** Append `tag` to the COMMIT LOG at `root/commits` — the LAST publish
    * of a stage, so a listable tag proves every prior artifact publish of
    * that stage landed. One row per committed stage, each tag its own
    * top-level partition, so re-committing a tag is an idempotent
    * directory swap. A log (not a single last-stage record) makes
    * duplicate detection exact for ANY historical tag: a delayed
    * duplicate from an at-least-once upstream, or a scheduler
    * re-submitting an old day, finds its tag however many stages
    * committed since.
    */
  def commit(spark: SparkSession, root: String, tag: String): Unit =
    MergeSink.publishPartitioned(
      spark.range(1).select(
        lit(tag).as("tag"),
        current_timestamp().cast("string").as("committed_at")),
      s"$root/commits", "tag")

  /** Is `tag` in the commit log at `root`? One filesystem existence probe
    * — no Spark job, no data read — and an absent or cold root simply
    * answers false (never built here, or torn before its commit).
    */
  def isCommitted(spark: SparkSession, root: String, tag: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$root/commits/tag=$tag")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
