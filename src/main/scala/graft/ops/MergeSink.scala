package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable last-write-wins merge — the engine's upsert sink primitive
  * (reference: INSERT ... ON DUPLICATE KEY UPDATE,
  * /root/reference/src/utils/data_utils.py:10-15, and INSERT IGNORE,
  * /root/reference/src/validator_withdrawals_handler.py:21).
  *
  * Batch precedence is explicit so re-runs are idempotent (SURVEY.md
  * §7.5#6). At scale: one shuffle on the primary key; write the result
  * partitioned by the same key for idempotent overwrite-by-partition.
  */
object MergeSink {

  /** Last-write-wins upsert of `updates` into `base` on `keys`: an updates
    * row beats a base row with the same key. If either side itself carries
    * several rows per key, the winner among them is picked by descending
    * order of the non-key columns — arbitrary but DETERMINISTIC, so
    * re-runs always converge to the same row (the idempotency contract,
    * SURVEY.md §7.5#6).
    */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = base.columns.toSeq
    val tagged = base.select(cols.map(col): _*).withColumn("_src", lit(0))
      .unionByName(updates.select(cols.map(col): _*).withColumn("_src", lit(1)))
    // Only orderable column types participate directly in the tie-break (a
    // map column would fail analysis); a JSON rendering of the non-key
    // columns is appended as the final tie-break so the pick stays
    // deterministic even when NO column is orderable.
    val orderable = base.schema.fields.filter(f =>
      org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
      .map(_.name).toSet
    val nonKey = cols.filterNot(keys.contains)
    // keys-only frames need no tie-break: duplicate rows are identical.
    val tieBreak =
      if (nonKey.isEmpty) Nil
      else nonKey.filter(orderable).map(c => col(c).desc) :+
        to_json(struct(nonKey.map(col): _*)).desc
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_src").desc +: tieBreak: _*)
    tagged
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(cols.map(col): _*)
  }

  /** INSERT IGNORE: keep every base row; append only updates whose key is
    * absent from base.
    */
  def insertIfAbsent(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = base.columns.toSeq
    base.unionByName(
      updates.select(cols.map(col): _*)
        .join(base.select(keys.map(col): _*).distinct(), keys, "left_anti"))
  }

  /** Idempotent overwrite-by-partition write: with dynamic partition
    * overwrite, re-running a batch replaces exactly the partitions it
    * produces and leaves the rest of the table untouched — the parquet
    * analog of the reference's PK upsert commit. `partitionCol` should be
    * the natural batch key (a date / epoch-bucket column).
    *
    * SINGLE-writer contract: two simultaneous writers can interleave
    * their partition overwrites. Concurrent publishers use
    * [[publishPartitioned]].
    */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCol)
      .parquet(path)

  /** Write-audit-publish: the concurrent-writer-safe form of
    * [[writePartitioned]] (the reference got this from MySQL's PK locks
    * for free; a filesystem table needs its own commit protocol).
    *
    *  1. WRITE to `path/_staging/<uuid>` — underscore-prefixed, so
    *     readers of `path` never see in-flight data;
    *  2. AUDIT the staged bytes (read back from disk — validating what
    *     will be published, not the plan that produced it); a throwing
    *     `audit` vetoes the publish and leaves the live table untouched;
    *  3. PUBLISH each staged partition into the live table by directory
    *     rename (atomic per partition) under a root lock file, so two
    *     simultaneous publishers serialize and every live partition is
    *     always exactly ONE writer's complete batch — never a mix.
    *
    * A crashed publisher leaves at worst a stale lock (broken by the next
    * writer after `lockTimeoutMs`) and `_staging`/`_trash` garbage that
    * readers never see. Lock creation uses HDFS-atomic
    * `create(overwrite=false)`; on a raw local FS the check-then-create
    * window is microscopic but not zero — production deployments on object
    * stores would swap in their conditional-put primitive here.
    */
  def publishPartitioned(
      df: DataFrame,
      path: String,
      partitionCol: String,
      audit: DataFrame => Unit = _ => (),
      lockTimeoutMs: Long = 60000L,
      onePerPartition: Boolean = false): Unit =
    publishPartitionedCols(df, path, Seq(partitionCol), audit, lockTimeoutMs,
      onePerPartition)

  /** [[publishPartitioned]] with a NESTED partition layout
    * (`cols.head=a/cols(1)=b/...`): the swap unit is still a TOP-LEVEL
    * `cols.head=` directory (renamed atomically with its whole subtree),
    * so a batch that stages only its own top-level partitions — e.g. an
    * append-friendly log writing `day=N/lang=*` — never touches sibling
    * top-level partitions on publish.
    */
  def publishPartitionedCols(
      df: DataFrame,
      path: String,
      cols: Seq[String],
      audit: DataFrame => Unit = _ => (),
      lockTimeoutMs: Long = 60000L,
      onePerPartition: Boolean = false,
      writeOptions: Map[String, String] = Map.empty): Unit = {
    require(cols.nonEmpty, "publishPartitionedCols needs >= 1 partition column")
    val partitionCol = cols.head
    // For HIGH-CARDINALITY partition layouts (corpus-scaled bucket counts,
    // [[ArtifactMeta.bucketsFor]]) route each partition value to one task
    // first: an unshuffled write emits up to tasks × values files of a few
    // rows each, and the read-back pays one open per file. Off by default —
    // a LOW-cardinality layout (the lang-partitioned manifest) would
    // collapse to one task per value and lose write parallelism.
    val toWrite = if (onePerPartition) df.repartition(cols.map(col): _*) else df
    val spark = df.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    val id = java.util.UUID.randomUUID().toString
    val stage = new org.apache.hadoop.fs.Path(root, s"_staging/$id")
    var publishOk = false
    try {
      toWrite.write.mode("overwrite").options(writeOptions)
        .partitionBy(cols: _*).parquet(stage.toString)
      // A zero-row batch stages no partition directories (and its parquet
      // dir has no readable schema) — nothing to publish, the live table
      // is untouched. Callers appending a possibly-empty day's rows rely
      // on this being a clean no-op rather than a schema-inference throw.
      if (!fs.listStatus(stage).exists(s =>
          s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))) {
        publishOk = true
        return
      }
      val staged = spark.read.parquet(stage.toString)
      cols.foreach(c => require(staged.columns.contains(c),
        s"staged data lost partition column $c"))
      audit(staged)
      val lock = new org.apache.hadoop.fs.Path(root, "_publish.lock")
      acquireLock(fs, lock, lockTimeoutMs)
      // Swap log for rollback: fully-swapped (target, retired) pairs plus
      // the partition mid-swap when a failure hits. A failed publish must
      // ROLL BACK to the pre-publish table — without it, the outer
      // cleanup's trash delete would destroy retired live partitions that
      // were never replaced.
      val done = scala.collection.mutable.ListBuffer[
        (org.apache.hadoop.fs.Path, Option[org.apache.hadoop.fs.Path])]()
      var current: Option[(org.apache.hadoop.fs.Path, Option[org.apache.hadoop.fs.Path])] = None
      try {
        fs.listStatus(stage)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(partitionCol + "="))
          .foreach { p =>
            val target = new org.apache.hadoop.fs.Path(root, p.getPath.getName)
            val trash =
              if (fs.exists(target)) {
                val t = new org.apache.hadoop.fs.Path(root, s"_trash/$id/${p.getPath.getName}")
                fs.mkdirs(t.getParent)
                require(fs.rename(target, t), s"could not retire $target")
                Some(t)
              } else None
            current = Some((target, trash))
            require(fs.rename(p.getPath, target), s"could not publish $target")
            done += ((target, trash))
            current = None
          }
        publishOk = true
      } finally {
        // Roll back BEFORE releasing the lock, so no competing writer
        // observes the half-published state. Best-effort: a rollback
        // IOException must not mask the original failure.
        if (!publishOk) try {
          current.foreach { case (target, trash) => // retire done, swap failed
            trash.foreach(t => fs.rename(t, target))
          }
          done.foreach { case (target, trash) => // fully swapped: un-publish
            fs.delete(target, true)
            trash.foreach(t => fs.rename(t, target))
          }
        } catch {
          case e: Throwable =>
            System.err.println(s"[publish] rollback of $root incomplete: ${e.getMessage}")
        }
        fs.delete(lock, false)
      }
    } finally {
      // Staging is always garbage. The retired originals are garbage only
      // after a SUCCESSFUL publish — on failure the rollback above moved
      // them back, and any rollback leftovers must survive for manual
      // recovery rather than be deleted.
      fs.delete(stage, true)
      if (publishOk)
        fs.delete(new org.apache.hadoop.fs.Path(root, s"_trash/$id"), true)
    }
  }

  /** Next sequence number for an append-friendly `seqCol=N` log: one
    * directory listing, no data read. SINGLE-WRITER only — two racing
    * writers both list max+1 and the SECOND publish retires the first's
    * generation to `_trash` (the per-table publish lock serializes the
    * swaps but cannot know the two stagings carry different batches): a
    * silent lost update. Concurrent appenders go through [[claimSeq]] /
    * [[appendLogSeq]] instead.
    */
  private[graft] def nextSeq(
      spark: org.apache.spark.sql.SparkSession, path: String,
      seqCol: String = "seq"): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    math.max(maxSeqIn(fs, p, seqCol),
      maxClaimIn(new HadoopClaimStore(fs), p, seqCol)) + 1
  }

  private def maxSeqIn(
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      seqCol: String): Int =
    if (!fs.exists(root)) -1
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(seqCol + "=")).map(_.stripPrefix(seqCol + "=").toInt)
      .foldLeft(-1)(math.max)

  private def claimsDir(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_claims")

  /** Create `p` if and only if it does not exist, ATOMICALLY, returning
    * whether this caller created it. The obvious
    * `fs.create(p, overwrite=false)` is atomic on HDFS but CHECK-THEN-
    * CREATE on the local filesystem (RawLocalFileSystem tests existence
    * before opening) — under a barrier, every contender passes the check
    * and all "win". Local paths therefore go through
    * `java.io.File.createNewFile` (O_CREAT|O_EXCL — the POSIX atomic);
    * everything else uses the HDFS-atomic create. Object-store
    * deployments inject their conditional-put via [[ClaimStore]].
    */
  private[graft] def hadoopCreateExclusive(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean = fs match {
    case _: org.apache.hadoop.fs.LocalFileSystem |
         _: org.apache.hadoop.fs.RawLocalFileSystem =>
      val f = new java.io.File(p.toUri.getPath)
      Option(f.getParentFile).foreach(_.mkdirs())
      try f.createNewFile()
      catch { case _: java.io.IOException => false }
    case _ =>
      try { fs.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
  }

  private def maxClaimIn(
      store: ClaimStore, root: org.apache.hadoop.fs.Path,
      seqCol: String): Int =
    store.listMarkers(claimsDir(root))
      .filter(_.startsWith(seqCol + "=")).map(_.stripPrefix(seqCol + "=").toInt)
      .foldLeft(-1)(math.max)

  /** Atomically CLAIM the next sequence number of an append log — the
    * multi-writer form of [[nextSeq]]. The number is max over PUBLISHED
    * generations and OUTSTANDING claims, plus one; the create-exclusive
    * marker `_claims/<seqCol>=N` admits exactly one claimant per number
    * (losers advance to N+1 and retry), so two deltas racing the same
    * table get DISTINCT generations instead of the second swap silently
    * retiring the first. A crashed claimant leaves a marker that merely
    * burns its number — generations need not be dense (readers resolve by
    * max-seq, compaction folds whatever exists) — and compaction GCs
    * markers at or below the folded max. Underscore-prefixed, so Spark's
    * parquet reads ignore the directory like `_staging`/`_trash`. Same
    * FS-primitive caveat as the publish lock: the marker atomics live in
    * [[ClaimStore]] — POSIX O_EXCL / HDFS create / object-store
    * conditional put, injectable per backend via `store`. Only
    * `createExclusive` carries safety; the listings pick the STARTING
    * number, so an eventually-consistent list costs retries, never
    * correctness.
    */
  private[graft] def claimSeq(
      spark: org.apache.spark.sql.SparkSession, path: String,
      seqCol: String = "seq", store: Option[ClaimStore] = None): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = storeFor(spark, root, store)
    st.mkdirs(claimsDir(root))
    var seq = math.max(maxSeqIn(fs, root, seqCol), maxClaimIn(st, root, seqCol)) + 1
    while (!st.createExclusive(
        new org.apache.hadoop.fs.Path(claimsDir(root), s"$seqCol=$seq")))
      seq += 1 // lost the race for this number
    seq
  }

  /** Drop ONE claim marker — only ever the caller's own (a publish that
    * completed, or a compaction that folded the published generation the
    * marker guarded). Deleting a NUMBER RANGE would destroy other
    * writers' still-outstanding claims, whose numbers could then be
    * re-claimed after a compaction resets the published max. Best-effort;
    * a leftover marker only burns a number.
    */
  private def releaseClaim(
      store: ClaimStore, root: org.apache.hadoop.fs.Path,
      seqCol: String, seq: Int): Unit =
    store.delete(new org.apache.hadoop.fs.Path(claimsDir(root), s"$seqCol=$seq"))

  /** How long an UNPUBLISHED claim marker may sit before compaction
    * treats its writer as crashed and sweeps it. Same class of assumption
    * as [[acquireLock]]'s stale break, with a far wider window: a live
    * delta stalled longer than this ACROSS a compaction could have its
    * number re-claimed. One empty marker file per crashed writer is the
    * entire cost of leaving it, so the window errs long.
    */
  private[graft] val ClaimStaleMs: Long = 6L * 3600 * 1000

  private def storeFor(
      spark: org.apache.spark.sql.SparkSession, root: org.apache.hadoop.fs.Path,
      injected: Option[ClaimStore]): ClaimStore =
    injected.getOrElse(new HadoopClaimStore(
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)))

  /** Row-group size for coalesced bucketed logs: small enough that a
    * bucket-predicate read prunes at sub-file granularity (a row group
    * covers ~a few buckets of a sorted file), large enough that footer
    * metadata stays negligible. Production tables with bigger rows would
    * raise this toward the 128 MB default.
    */
  private val LogBlockBytes = (1 << 20).toString

  /** COALESCED publish of one `seqCol=N` generation of a bucketed log
    * table: instead of one directory+file per bucket (file count =
    * buckets x generations — the small-files term that dominated the
    * round-10 delta sweep's wall at flat shuffle: every open/list/rename
    * touched 256 directories per table at 100k docs), the generation is
    * `files` parquet files with `sortCols` (led by the bucket id) RANGE-
    * PARTITIONED across them and sorted within, so parquet row-group
    * min/max stats give readers the pruning the directory layout gave —
    * `where(col("bucket").isin(...))` pushes down and skips non-matching
    * row groups — at a per-generation file count independent of the
    * bucket count. The swap unit (and crash-replay idempotency unit)
    * stays the whole `seqCol=N` directory.
    */
  private[graft] def publishLogSeq(
      df: DataFrame, path: String, seq: Int, files: Int,
      sortCols: Seq[String], seqCol: String = "seq"): Unit = {
    val sorted = df
      .repartitionByRange(math.max(1, files), sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .withColumn(seqCol, lit(seq))
    publishPartitionedCols(sorted, path, Seq(seqCol),
      writeOptions = Map("parquet.block.size" -> LogBlockBytes))
  }

  /** Claim-then-publish APPEND of one new generation — the multi-writer
    * append primitive every maintenance path uses: [[claimSeq]] picks a
    * generation no concurrent appender can also pick, [[publishLogSeq]]
    * swaps it in, and the claim marker is released only AFTER the publish
    * succeeds (a failed publish leaves the marker, burning the number
    * rather than letting a later appender collide with a retry) — EXCEPT
    * on backends whose listing can lag ([[ClaimStore.retainOnPublish]]):
    * there the marker is retained until compaction folds the generation,
    * closing the window where a contender sees neither the marker nor
    * the generation and re-claims the number. Returns the generation
    * published.
    */
  private[graft] def appendLogSeq(
      df: DataFrame, path: String, files: Int,
      sortCols: Seq[String], seqCol: String = "seq",
      store: Option[ClaimStore] = None): Int = {
    val spark = df.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val st = storeFor(spark, root, store)
    val seq = claimSeq(spark, path, seqCol, Some(st))
    publishLogSeq(df, path, seq, files, sortCols, seqCol)
    if (!st.retainOnPublish) releaseClaim(st, root, seqCol, seq)
    seq
  }

  /** Resolved view of a GROUP-REPLACE log: every `seqCol>0` generation
    * carries, for each key it touches, the COMPLETE replacement row-group
    * for that key (a doc's full band-row set, a node's full adjacency, a
    * doc's current label row). Resolution keeps base (seq=0) groups
    * untouched by any delta plus, per touched key, all rows of its
    * highest generation.
    *
    * Scale contract: delta generations are BATCH-scale (the maintenance
    * paths append batch-proportional rows), so the touched-key frame
    * broadcasts and the resolve costs one base scan + a batch-scale
    * aggregation — no corpus-scale exchange. Compact periodically
    * ([[compactKeyLog]]) so accumulated generations stay broadcastable.
    */
  private[graft] def resolveKeyLog(
      spark: org.apache.spark.sql.SparkSession, path: String,
      keys: Seq[String], seqCol: String = "seq"): DataFrame = {
    val all = spark.read.parquet(path)
    val deltas = all.where(col(seqCol) > 0)
    val dMax = deltas.groupBy(keys.map(col): _*)
      .agg(max(col(seqCol)).as("_maxseq"))
    val winners = deltas.join(broadcast(dMax), keys)
      .where(col(seqCol) === col("_maxseq")).drop("_maxseq", seqCol)
    all.where(col(seqCol) === 0)
      .join(broadcast(dMax.select(keys.map(col): _*)), keys, "left_anti")
      .drop(seqCol)
      .unionByName(winners)
  }

  /** The `seqCol=N` generation directories present at `root` RIGHT NOW,
    * ascending. Compaction pins its fold to exactly this listing (reads
    * these paths, deletes these paths) so a generation APPENDED while the
    * fold runs is neither half-read nor dropped — the old read-the-whole-
    * table form deleted every `seq>0` dir it saw at delete time,
    * including ones published after the fold's read (the documented
    * single-compactor hazard, now closed).
    */
  private def listSeqDirs(
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      seqCol: String): Seq[(Int, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith(seqCol + "="))
      .map(p => (p.getName.stripPrefix(seqCol + "=").toInt, p))
      .sortBy(_._1).toSeq

  /** Delete the folded generations and GC their claim markers.
    *
    * ASCENDING seq order is load-bearing for readers concurrent with the
    * compaction: after the fold publishes at `seq=0`, a reader resolving
    * max-seq-per-key over any SUFFIX-of-generations-still-present state
    * gets correct rows — for every key, the highest surviving generation
    * either IS the key's global max (its rows are what the fold kept) or
    * all of the key's generations are already deleted and the key falls
    * through to the fold. Descending or unordered deletes break this: a
    * key touched in generations {3,4} with 4 deleted first resolves to
    * 3's STALE rows while the fold already carries 4's.
    *
    * Claim GC: markers for folded generations are dead by construction
    * (their publish completed — the dir existed). Markers with NO
    * published dir belong to in-flight or crashed writers; only those
    * older than [[ClaimStaleMs]] are swept.
    */
  private def retireFolded(
      fs: org.apache.hadoop.fs.FileSystem, root: org.apache.hadoop.fs.Path,
      seqCol: String, folded: Seq[(Int, org.apache.hadoop.fs.Path)],
      store: ClaimStore): Unit = {
    folded.filter(_._1 != 0).sortBy(_._1).foreach { case (n, p) =>
      fs.delete(p, true)
      releaseClaim(store, root, seqCol, n)
    }
    // The stale-orphan sweep needs marker AGE, which only the Hadoop
    // backend exposes (mod times); an object store keys the same sweep on
    // its object timestamps in its own backend code. Folded-generation GC
    // above works on every backend — on retainOnPublish stores it is the
    // ONLY place retained markers are reclaimed.
    store match {
      case _: HadoopClaimStore =>
        val dir = claimsDir(root)
        if (fs.exists(dir)) {
          val cutoff = System.currentTimeMillis() - ClaimStaleMs
          fs.listStatus(dir)
            .filter(s => s.getPath.getName.startsWith(seqCol + "=")
              && s.getModificationTime < cutoff
              && !fs.exists(new org.apache.hadoop.fs.Path(root, s.getPath.getName)))
            .foreach(s => try fs.delete(s.getPath, false)
              catch { case _: java.io.IOException => () })
        }
      case _ => ()
    }
  }

  /** Fold a group-replace log back to a single coalesced `seq=0`
    * generation with an identical resolved view. The fold is PINNED to
    * the generations listed on entry ([[listSeqDirs]]): a delta appended
    * while the fold runs is untouched and survives, so appenders —
    * which claim their generations via [[appendLogSeq]] — may run
    * concurrently with one compactor. (Two concurrent COMPACTORS still
    * race: both fold equivalent views, the publish lock serializes their
    * `seq=0` swaps, and the loser's fold wins-last with the same resolved
    * content — wasteful, not wrong.) Unlike the serve-path resolve, the
    * fold may run over arbitrarily many accumulated generations, so it
    * resolves with a full max-seq window (one corpus-scale exchange — a
    * periodic compaction job's budget) instead of the broadcast form.
    * `onAfterPin` is a test seam invoked between the fold's publish and
    * the retire pass.
    */
  private[graft] def compactKeyLog(
      spark: org.apache.spark.sql.SparkSession, path: String,
      keys: Seq[String], files: Int, sortCols: Seq[String],
      seqCol: String = "seq",
      onAfterPin: () => Unit = () => (),
      store: Option[ClaimStore] = None): Unit = {
    val rootDir = new org.apache.hadoop.fs.Path(path)
    val fs = rootDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = listSeqDirs(fs, rootDir, seqCol)
    if (gens.isEmpty) return
    val all = spark.read.option("basePath", path)
      .parquet(gens.map(_._2.toString): _*)
    val w = Window.partitionBy(keys.map(col): _*)
    val resolved = all.withColumn("_ms", max(col(seqCol)).over(w))
      .where(col(seqCol) === col("_ms")).drop("_ms", seqCol)
      .transform(Steps.pin) // pin before any delete (the compactLog contract)
    publishLogSeq(resolved, path, 0, files, sortCols, seqCol)
    onAfterPin()
    retireFolded(fs, rootDir, seqCol, gens, storeFor(spark, rootDir, store))
  }

  /** Compact an APPEND-FRIENDLY LOG table — the layout where each batch
    * writes its rows (upserts AND tombstones) under its own top-level
    * `seqCol=N` partition and never rewrites prior batches' files: resolve
    * last-writer-wins per `keys` (highest `seqCol` wins), republish the
    * resolved view as `seqCol=0`, then delete the superseded `seqCol>0`
    * partitions. Run periodically so the log's read amplification (one
    * stale row per superseded write) stays bounded; between compactions,
    * readers resolve with the same max-seq window this uses.
    *
    * Concurrency contract as [[compactKeyLog]]: the fold is pinned to the
    * generations listed on entry, so one compactor is safe alongside
    * claim-based appenders ([[appendLogSeq]]); superseded generations are
    * retired in ascending order so a concurrent reader's max-seq resolve
    * stays correct at every intermediate state ([[retireFolded]]).
    */
  def compactLog(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      keys: Seq[String],
      seqCol: String,
      subCols: Seq[String] = Nil,
      onAfterPin: () => Unit = () => (),
      store: Option[ClaimStore] = None): Unit = {
    // An EMPTY log is a legal state (a gate that rejects every document
    // publishes zero partitions) — compacting it is a no-op, not a
    // schema-inference failure.
    val rootDir = new org.apache.hadoop.fs.Path(path)
    val rootFs = rootDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = listSeqDirs(rootFs, rootDir, seqCol)
    if (gens.isEmpty) return
    val all = spark.read.option("basePath", path)
      .parquet(gens.map(_._2.toString): _*)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(seqCol).desc)
    // Pin BEFORE any delete: the resolved view must stop depending on the
    // files about to be removed.
    val resolved = all.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
      .withColumn(seqCol, lit(0))
      .transform(Steps.pin)
    publishPartitionedCols(resolved, path, seqCol +: subCols)
    onAfterPin()
    retireFolded(rootFs, rootDir, seqCol, gens, storeFor(spark, rootDir, store))
  }

  private def acquireLock(
      fs: org.apache.hadoop.fs.FileSystem,
      lock: org.apache.hadoop.fs.Path,
      timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var acquired = false
    while (!acquired) {
      // createExclusive, not fs.create(overwrite=false): the latter is
      // check-then-create on the local FS, so simultaneous publishers
      // could BOTH take the lock (measured under a barrier in
      // ConcurrentLogSpec's claim test before the primitive was fixed).
      if (hadoopCreateExclusive(fs, lock)) acquired = true
      else {
          // Stale-lock break: a crashed publisher's lock older than the
          // timeout is CLAIMED by renaming it to a unique name — rename
          // is atomic, so exactly one contender wins and removes it; a
          // plain delete-then-create would let a slow contender delete a
          // competitor's FRESH lock and put two publishers inside the
          // critical section. (Safe to break at all because a crashed
          // publisher's partition renames were each atomic.)
          val stale =
            try fs.getFileStatus(lock).getModificationTime <
              System.currentTimeMillis() - timeoutMs
            catch { case _: java.io.FileNotFoundException => false }
          if (stale) {
            val claim = new org.apache.hadoop.fs.Path(
              lock.getParent, s"${lock.getName}.stale-${java.util.UUID.randomUUID()}")
            try { if (fs.rename(lock, claim)) fs.delete(claim, false) }
            catch { case _: java.io.IOException => () } // lost the claim race
          }
          else if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"publish lock $lock not acquired within ${timeoutMs}ms")
          else Thread.sleep(50)
      }
    }
  }
}
