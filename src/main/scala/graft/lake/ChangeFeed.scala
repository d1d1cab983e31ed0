package graft.lake

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, LongType}

/** Incremental table read — the change data feed (Delta CDF / Hudi
  * incremental-query analog, built on this table format's own retained
  * snapshots): the NET row-level changes between two committed versions,
  * classified insert / update / delete, WITHOUT replaying the source log and
  * WITHOUT scanning the table.
  *
  * This is the capability that lets downstream pipelines chain off the lake
  * table itself (bronze → silver) when the upstream changelog has been
  * truncated: the reference can only re-serve changes from the binlog it
  * still holds (/root/reference/cobra/cobra.go:177-191 resumes from a
  * retained position); here the TABLE is the durable record.
  *
  * Semantics (net-changes over the window `(fromVersion, toVersion]`):
  *  - `insert`  — key is alive at `to` and was absent-or-tombstoned at `from`;
  *  - `update`  — alive at both, and the last-writer `_seq` differs (a
  *                content-identical CDC update is still a change: its seq
  *                advanced — `noopUpdates` are applied rows, see MergeApply);
  *  - `delete`  — alive at `from`, tombstoned-or-absent at `to`; the output
  *                carries the PRE-image (the row as of `from`) and the
  *                tombstone's seq when retained.
  * Keys whose state is bit-identical (same winner seq) are NOT changes — a
  * compaction/fold/rebucket commit inside the window contributes nothing. A
  * window made ONLY of such rewrites is answered from snapshot metadata
  * alone: the empty feed, with nothing read.
  *
  * Scale shape (the 100 TB contract): cost is O(files the window ADDED), not
  * O(table). Candidate keys are read from exactly the base/delta files that
  * appear in `to`'s manifest but not `from`'s (every row that changed in the
  * window lives in such a file — COW rewrites carry it forward, MOR appends
  * are change events themselves). Both versions' states are then computed
  * over file lists PRUNED by manifest metadata alone (base files by the
  * candidates' per-bucket `_hkey` envelopes, delta files by bucket label)
  * and restricted to candidate keys, so the old state costs the touched
  * neighborhoods, never a table scan. The one
  * operation that can hide a change from added files is a compaction that
  * EXPIRED tombstones inside the window (the deleted key then appears in no
  * `to`-file); the cumulative `tombstonesExpired` metric detects exactly
  * this, and the feed falls back to also reading the files the window
  * REMOVED — still the rewritten neighborhoods, still never a blind scan.
  *
  * Requires both snapshots to be retained ([[Maintenance.expireSnapshots]]
  * is the retention knob); [[LakeTable.snapshotAt]] throws if `fromVersion`
  * has been expired.
  */
object ChangeFeed {

  val OpColName = "change_op"

  /** Up to this many candidate keys, manifest pruning is exact-containment
    * (sorted hkeys per bucket, driver-side); above it, per-bucket min/max
    * envelopes. ~1.6 MB of longs at the cap. */
  val MaxExactPruneKeys = 100000

  /** What the feed READ, off the manifests — the O(window)-vs-O(table)
    * evidence (at 100 TB `rowsInScope / tableRows` is the whole story):
    * candidate derivation reads the added (+ removed, on tombstone expiry)
    * files; state resolution reads the hkey-pruned neighborhoods of each
    * side. All row counts are manifest stats, no extra jobs. */
  final case class FeedStats(
      addedBaseFiles: Int, addedDeltaFiles: Int, removedBaseFiles: Int,
      removedDeltaFiles: Int,
      oldFilesRead: Int, oldRowsRead: Long,
      newFilesRead: Int, newRowsRead: Long,
      tableFiles: Int, tableRows: Long) {
    def rowsInScope: Long = oldRowsRead + newRowsRead
    def scanFraction: Double =
      if (tableRows == 0L) 0.0 else rowsInScope.toDouble / (2.0 * tableRows)
  }

  /** Net row-level changes in `(fromVersion, toVersion]`, as
    * (repo, path, change_op, <current-schema non-key columns>, _seq).
    * Non-key columns carry the `to`-image for insert/update and the
    * `from`-pre-image for delete; `_seq` is the winning writer's log seq
    * (the tombstone's for a delete; null only for a tombstone-expired
    * delete). Old-version rows are projected to `to`'s CURRENT schema by
    * column id, so renames/widens inside the window diff correctly. */
  def changesBetween(table: LakeTable, fromVersion: Long, toVersion: Long): DataFrame =
    changesBetweenWithStats(table, fromVersion, toVersion)._1

  /** [[changesBetween]] plus the manifest-derived IO stats. */
  def changesBetweenWithStats(table: LakeTable, fromVersion: Long, toVersion: Long)
      : (DataFrame, FeedStats) = {
    require(fromVersion <= toVersion,
      s"changesBetween: fromVersion $fromVersion > toVersion $toVersion")
    val s2 = table.snapshotAt(toVersion)
    def emptyStats: FeedStats = FeedStats(0, 0, 0, 0, 0, 0L, 0, 0L,
      s2.files.size + s2.deltaFiles.size,
      s2.files.iterator.map(_.rows).sum + s2.deltaFiles.iterator.map(_.rows).sum)
    if (fromVersion == toVersion || rewritesOnly(table, fromVersion, toVersion))
      return (emptyFeed(table, s2), emptyStats)
    val s1 = table.snapshotAt(fromVersion)

    // ---- 1. files the window added (metadata-only diff)
    val basePaths1 = s1.files.iterator.map(_.path).toSet
    val deltaPaths1 = s1.deltaFiles.iterator.map(_.path).toSet
    val addedBase = s2.files.filterNot(f => basePaths1.contains(f.path))
    val addedDelta = s2.deltaFiles.filterNot(f => deltaPaths1.contains(f.path))

    // tombstone expiry inside the window ⇒ a deleted key may appear in NO
    // added file; its last trace is in the files the window removed — BASE
    // files, and also s1's DELTA files that the window dropped (a MOR key
    // whose only from-version trace was an unfolded delta event, when the
    // window contains fold + delete + tombstone-expiring compaction, appears
    // in no added file and no removed base file; ADVICE r6).
    val expiredInWindow =
      s2.metrics.getOrElse("tombstonesExpired", 0L) > s1.metrics.getOrElse("tombstonesExpired", 0L)
    val (removedBase, removedDelta) =
      if (!expiredInWindow) (Seq.empty[DataFile], Seq.empty[DataFile])
      else {
        val basePaths2 = s2.files.iterator.map(_.path).toSet
        val deltaPaths2 = s2.deltaFiles.iterator.map(_.path).toSet
        (s1.files.filterNot(f => basePaths2.contains(f.path)),
          s1.deltaFiles.filterNot(f => deltaPaths2.contains(f.path)))
      }

    // ---- 2. candidate keys: every key a window-file holds (superset of the
    //         changed keys; non-changes are dropped by the seq-equal filter)
    val candParts =
      Seq(addedBase -> s2, removedBase -> s1).collect { case (fs, s) if fs.nonEmpty =>
        table.readInternal(s, fs).select(col("repo"), col("path")) } ++
      Seq(addedDelta -> s2, removedDelta -> s1).collect { case (fs, s) if fs.nonEmpty =>
        MorRead.deltaEvents(table, fs, s.numBuckets).select(col("repo"), col("path")) }
    if (candParts.isEmpty) // fence/metrics-only commits
      return (emptyFeed(table, s2), emptyStats)
    // materialized once: feeds the range aggregate and both semi joins
    val candKeys = candParts.reduce(_ unionByName _).distinct().localCheckpoint(true)

    // ---- 3. candidate `_hkey`s per bucket, under EACH version's own bucket
    //         count (a rebucket may sit in the window), collected to the
    //         driver for manifest pruning. Up to [[MaxExactPruneKeys]] the
    //         pruning is EXACT (a file is read iff it can CONTAIN a candidate
    //         key — sorted-array containment, not a min/max envelope, so two
    //         distant candidates in one bucket don't drag in every file
    //         between them); above the cap it degrades to per-bucket
    //         envelopes (sound: pruning only ever widens to a superset).
    def bucketCol(numBuckets: Int): Column = LakeTable.bucketExpr(col("repo"), col("path"), numBuckets)
    val h = table.hkeyExpr(col("repo"), col("path"))
    val keyRows: Array[Row] = candKeys
      .select(bucketCol(s1.numBuckets).as("b1"), bucketCol(s2.numBuckets).as("b2"), h.as("h"))
      .limit(MaxExactPruneKeys + 1)
      .collect()
    val exact = keyRows.length <= MaxExactPruneKeys
    def hkeysPerBucket(bucketOf: Row => Int): Map[Int, Array[Long]] =
      keyRows.groupBy(bucketOf).map { case (b, rs) =>
        b -> rs.map(_.getLong(2)).sorted
      }
    def containsInRange(sortedH: Array[Long], mn: Long, mx: Long): Boolean = {
      var lo = 0; var hi = sortedH.length
      while (lo < hi) { // lower bound of mn
        val mid = (lo + hi) >>> 1
        if (sortedH(mid) < mn) lo = mid + 1 else hi = mid
      }
      lo < sortedH.length && sortedH(lo) <= mx
    }
    def pruners(bucketOf: Row => Int, numBuckets: Int)
        : (Seq[DataFile] => Seq[DataFile], Seq[DataFile] => Seq[DataFile]) = {
      val byBucket: Map[Int, Array[Long]] =
        if (exact) hkeysPerBucket(bucketOf)
        else { // envelope fallback: one [min,max] per bucket from a full aggregate
          candKeys.select(bucketCol(numBuckets).as("b"), h.as("h"))
            .groupBy(col("b")).agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
            .collect().map(r => r.getInt(0) -> Array(r.getLong(1), r.getLong(2))).toMap
        }
      val pruneBase = (files: Seq[DataFile]) => files.filter(f =>
        byBucket.get(f.bucket).exists { hs =>
          if (exact) containsInRange(hs, f.minKey, f.maxKey)
          else f.minKey <= hs(1) && f.maxKey >= hs(0)
        })
      val pruneDelta = (files: Seq[DataFile]) => files.filter(f => byBucket.contains(f.bucket))
      (pruneBase, pruneDelta)
    }
    val (pruneBase1, pruneDelta1) = pruners(_.getInt(0), s1.numBuckets)
    val (pruneBase2, pruneDelta2) = pruners(_.getInt(1), s2.numBuckets)

    // ---- 4. both versions' states over the pruned neighborhoods, candidate
    //         keys only (prunes are per-key supersets; the semi join removes
    //         keys a one-sided prune covers only partially)
    val oldBase = pruneBase1(s1.files); val oldDelta = pruneDelta1(s1.deltaFiles)
    val newBase = pruneBase2(s2.files); val newDelta = pruneDelta2(s2.deltaFiles)
    val old0 = MorRead.resolveOn(table, s1, oldBase, oldDelta)
    val new0 = MorRead.resolveOn(table, s2, newBase, newDelta)

    // old rows projected to the CURRENT schema by column id (rename/widen-safe)
    val cur = s2.schema
    val oldProjected = old0.select(
      cur.projectFrom(s1.schema) :+ col(LakeTable.SeqCol) :+ col(LakeTable.DeletedCol): _*)

    val o = oldProjected.join(candKeys, Seq("repo", "path"), "left_semi").alias("o")
    val n = new0.join(candKeys, Seq("repo", "path"), "left_semi").alias("n")

    // ---- 5. diff + classify
    val aliveO = col(s"o.${LakeTable.SeqCol}").isNotNull && !col(s"o.${LakeTable.DeletedCol}")
    val aliveN = col(s"n.${LakeTable.SeqCol}").isNotNull && !col(s"n.${LakeTable.DeletedCol}")
    val opC: Column =
      when(aliveN && !aliveO, lit("insert"))
        .when(aliveN && aliveO &&
          col(s"n.${LakeTable.SeqCol}") =!= col(s"o.${LakeTable.SeqCol}"), lit("update"))
        .when(!aliveN && aliveO, lit("delete"))
    val nonKey = cur.columns.filter(c => c.name != "repo" && c.name != "path")
    val stats = FeedStats(
      addedBase.size, addedDelta.size, removedBase.size, removedDelta.size,
      oldBase.size + oldDelta.size,
      oldBase.iterator.map(_.rows).sum + oldDelta.iterator.map(_.rows).sum,
      newBase.size + newDelta.size,
      newBase.iterator.map(_.rows).sum + newDelta.iterator.map(_.rows).sum,
      s2.files.size + s2.deltaFiles.size,
      s2.files.iterator.map(_.rows).sum + s2.deltaFiles.iterator.map(_.rows).sum)
    val feed = o.join(n,
        col("o.repo") === col("n.repo") && col("o.path") === col("n.path"), "full_outer")
      .select(
        (Seq(
          coalesce(col("n.repo"), col("o.repo")).as("repo"),
          coalesce(col("n.path"), col("o.path")).as("path"),
          opC.as(OpColName)) ++
          nonKey.map(c =>
            when(opC === "delete", col(s"o.${c.name}"))
              .otherwise(col(s"n.${c.name}")).as(c.name)) :+
          col(s"n.${LakeTable.SeqCol}").as(LakeTable.SeqCol)): _*)
      .filter(col(OpColName).isNotNull)
    (feed, stats)
  }

  /** Metric keys of the commits that rewrite files without changing any
    * key's state: a fold (full or partial), a delta-log compaction, a
    * compaction (an expired tombstone was dead before and is absent after)
    * and a rebucket. */
  private val RewriteMetrics = Seq("morFolds", "deltaCompactions", "compactions", "rebuckets")

  /** Whether every commit in `(from, to]` is such a rewrite, judged from the
    * snapshots' cumulative metrics: each version's metric delta carries a
    * rewrite key and holds no rows back (a fold that parks rows in
    * `_pending` hides them until they drain). A missing intermediate
    * snapshot answers false, and the feed takes its scanning path. */
  private def rewritesOnly(table: LakeTable, from: Long, to: Long): Boolean =
    try {
      val metrics = (from to to).map(v => table.snapshotAt(v).metrics)
      metrics.zip(metrics.tail).forall { case (prev, cur) =>
        def delta(k: String): Long = cur.getOrElse(k, 0L) - prev.getOrElse(k, 0L)
        RewriteMetrics.exists(delta(_) > 0L) && delta("pendingHeldBack") == 0L
      }
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Zero changes, under the feed's output schema for `s`'s current schema. */
  private def emptyFeed(table: LakeTable, s: Snapshot): DataFrame = {
    val nonKey = s.schema.columns.filter(c => c.name != "repo" && c.name != "path")
    val fields =
      Seq(StructField("repo", StringType), StructField("path", StringType),
        StructField(OpColName, StringType)) ++
        nonKey.map(c => StructField(c.name, TableSchema.toSpark(c.dataType))) :+
        StructField(LakeTable.SeqCol, LongType)
    table.spark.createDataFrame(
      java.util.Collections.emptyList[Row](), StructType(fields))
  }
}
