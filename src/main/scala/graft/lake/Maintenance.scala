package graft.lake

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}

/** Table maintenance: bucket compaction (small-file merging + tombstone GC),
  * rebucketing and snapshot expiry (metadata + unreferenced-data cleanup).
  * Compact and rebucket are one rewrite body over `LakeTable.writeFiles`;
  * rebucket rewrites every file under a new bucket count.
  *
  * A copy-on-write table accretes files two ways: each commit adds new files
  * for the keys it touched (old versions keep the old files — that's time
  * travel), and an incremental workload leaves many small files per bucket.
  * Compaction rewrites chosen buckets into `targetFileRows`-sized files
  * sorted by `_hkey`, which simultaneously (a) merges small files, (b) may
  * drop tombstones whose `_seq` is at or below a caller-supplied horizon
  * (safe once no replay can deliver events older than the horizon —
  * tombstones exist to absorb stale replays, see MergeApply), and (c)
  * restores the narrow disjoint key ranges that make merge-time file pruning
  * effective.
  */
object Maintenance {

  final case class CompactionResult(bucketsCompacted: Int, tombstonesDropped: Long)

  /** Rewrite buckets holding more than `maxFilesPerBucket` files (or all
    * buckets, if `force`), dropping tombstones with `_seq` <=
    * tombstoneHorizon. Commits one new snapshot.
    *
    * Optimistic retry: compaction racing a live tail's merge commit loses the
    * version CAS; since compaction is a pure rewrite, the safe recovery is to
    * redo it wholesale against the refreshed snapshot (our output may be
    * missing rows the winner just merged into the candidate files). */
  def compact(
      table: LakeTable,
      maxFilesPerBucket: Int = 1,
      tombstoneHorizon: Option[Long] = None,
      force: Boolean = false): CompactionResult =
    LakeTable.withCommitRetry(table) {
      val snap = requireFolded(table)
      val candidates: Seq[DataFile] = snap.files.groupBy(_.bucket).valuesIterator
        .filter(fs => force || fs.size > maxFilesPerBucket)
        .flatten.toSeq
      val buckets = candidates.map(_.bucket).distinct.size
      if (candidates.isEmpty) CompactionResult(0, 0L)
      else {
        val (newFiles, dropped) =
          rewrite(table, candidates, snap.numBuckets, buckets, tombstoneHorizon)
        table.commit(candidates.map(_.path).toSet, newFiles, Map.empty,
          Map("compactions" -> 1L, "tombstonesExpired" -> dropped))
        CompactionResult(buckets, dropped)
      }
    }

  final case class RebucketResult(oldBuckets: Int, newBuckets: Int, filesWritten: Int)

  /** Rewrite the WHOLE table under a new bucket count — the lift for the
    * create-time `numBuckets` as the table grows (bucket count bounds merge
    * parallelism and write layout; a table that grew 100× needs more buckets
    * for strategy-3 merges to use more than `oldBuckets` tasks). This is
    * compaction's rewrite over every file, under the new count and with no
    * tombstone horizon. Snapshot-atomic like compact: old snapshots keep
    * reading their own files; readers and mergers pick up the new bucket
    * function from the new snapshot. Safe beside a live tail via optimistic
    * retry. */
  def rebucket(table: LakeTable, newBuckets: Int): RebucketResult = {
    require(newBuckets > 0, "newBuckets must be positive")
    LakeTable.withCommitRetry(table) {
      val snap = requireFolded(table)
      if (snap.numBuckets == newBuckets) RebucketResult(newBuckets, newBuckets, 0)
      else {
        val (newFiles, _) = rewrite(table, snap.files, newBuckets, newBuckets, None)
        table.commit(snap.files.map(_.path).toSet, newFiles, Map.empty,
          Map("rebuckets" -> 1L), newNumBuckets = Some(newBuckets))
        RebucketResult(snap.numBuckets, newBuckets, newFiles.size)
      }
    }
  }

  /** The current snapshot, which compact and rebucket may only rewrite once
    * every merge-on-read delta has been folded (they read base files only). */
  private def requireFolded(table: LakeTable): Snapshot = {
    val snap = table.snapshot
    require(snap.deltaFiles.isEmpty,
      "MOR table has unfolded delta files — run graft.ingest.Mor.fold first " +
        "(compaction reads base files only; folding is itself the MOR compaction)")
    snap
  }

  /** Rewrite `files` as base files bucketed under `numBuckets`, routed to
    * `buckets` writing tasks, without the tombstones at or below
    * `tombstoneHorizon` (counted in-flight with the rewrite, no second
    * scan). Returns the new files and the tombstones dropped. */
  private def rewrite(table: LakeTable, files: Seq[DataFile], numBuckets: Int, buckets: Int,
      tombstoneHorizon: Option[Long]): (Seq[DataFile], Long) = {
    val base = table.readInternal(table.snapshot, files)
    val obs = Observation(s"compact-${java.util.UUID.randomUUID()}")
    val kept = tombstoneHorizon.fold(base) { h =>
      val isExpired = col(LakeTable.DeletedCol) && col(LakeTable.SeqCol) <= h
      base.observe(obs, sum(when(isExpired, 1L).otherwise(0L)).as("dropped")).filter(!isExpired)
    }
    val newFiles = table.writeFiles(
      table.bucketRows(kept, base = true, Some(buckets), numBuckets), base = true)
    val dropped = if (tombstoneHorizon.isEmpty) 0L else obs.get.get("dropped") match {
      case Some(v: Long) => v
      case _ => 0L
    }
    (newFiles, dropped)
  }

  /** Drop snapshot metadata older than the last `keep` versions and delete
    * data commit-dirs referenced by NO retained snapshot. Time travel remains
    * possible across retained versions only.
    *
    * Liveness is decided by commit-dir BASENAME (manifest paths are relative
    * to the table root), never by full path-string equality — a table reached
    * via a different spelling (relative vs absolute, symlink, copy) must not
    * GC its own live data.
    *
    * `graceMs` protects IN-FLIGHT commits (Iceberg's orphan-file grace, same
    * reason): a concurrent merge writes its commit-dir BEFORE the snapshot
    * that references it, so a dir younger than the grace window is presumed
    * in-flight and skipped even when no retained snapshot references it —
    * deleting it would yank the data out from under the commit that is about
    * to publish it. Truly orphaned dirs (crashed writers) age past the
    * window and are collected on the next expiry. */
  def expireSnapshots(table: LakeTable, keep: Int = 2,
      graceMs: Long = 10L * 60 * 1000): Int = {
    require(keep >= 1)
    val dir = Paths.get(table.dir)
    val snapDir = dir.resolve("snapshots")
    val versions = LakeTable.listDir(snapDir)
      .map(_.getFileName.toString)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted
    val retained = versions.takeRight(keep)
    val expired = versions.dropRight(keep)

    val retainedSnaps = retained.map(table.snapshotAt)
    // commit-dir basenames referenced by any retained snapshot (base AND
    // merge-on-read delta files — both are live data). The commit dir is the
    // FIRST path segment under <table>/data, never a fixed parent-count walk:
    // a walk tied to one layout depth resolves any other depth to "data" or
    // below a commit dir, and live commit dirs then never enter the
    // referenced set and are GC'd past the grace window (round-4 ADVICE,
    // data loss, when MOR appends were written one level shallower).
    val dataRoot = dir.resolve("data").toAbsolutePath.normalize
    def commitDirOf(p: Path): Option[String] = {
      var cur = p.toAbsolutePath.normalize
      while (cur.getParent != null && cur.getParent != dataRoot) cur = cur.getParent
      if (cur.getParent == null) None else Some(cur.getFileName.toString)
    }
    val referenced: Set[String] = retainedSnaps.flatMap { s =>
      (s.files.iterator ++ s.deltaFiles.iterator)
        .flatMap(f => commitDirOf(Paths.get(table.resolve(f.path))))
    }.toSet
    val cutoff = System.currentTimeMillis() - graceMs
    val dataDir = dir.resolve("data")
    if (Files.isDirectory(dataDir)) {
      LakeTable.listDir(dataDir).foreach { commitDir =>
        val young =
          try newestMtime(commitDir) > cutoff
          catch { case _: java.io.IOException => true } // vanished/unreadable: skip
        if (!referenced.contains(commitDir.getFileName.toString) && !young)
          org.apache.commons.io.FileUtils.deleteQuietly(commitDir.toFile)
      }
    }
    // orphan MANIFESTS: files under manifests/ referenced by no retained
    // snapshot — produced by expired snapshots' rewrites and by commits that
    // lost the version CAS. Same grace window as data (a manifest is written
    // shortly before the snapshot that references it publishes).
    val referencedManifests: Set[String] =
      retainedSnaps.flatMap(_.manifests.map(_.path)).toSet
    val mDir = dir.resolve("manifests")
    if (Files.isDirectory(mDir)) {
      LakeTable.listDir(mDir).foreach { mf =>
        val rel = s"manifests/${mf.getFileName}"
        val young =
          try Files.getLastModifiedTime(mf).toMillis > cutoff
          catch { case _: java.io.IOException => true }
        if (!referencedManifests.contains(rel) && !young)
          Files.deleteIfExists(mf)
      }
    }
    expired.foreach(v => Files.deleteIfExists(snapDir.resolve(f"v$v%012d.json")))
    expired.size
  }

  /** Newest mtime over a commit dir's whole file tree. The dir's OWN mtime is
    * set when the `_bucket=N` subdirs are created at the START of a write;
    * parquet files land later and do not bump it — a write phase longer than
    * the grace window would otherwise let a concurrent expiry delete an
    * in-flight commit's data out from under the snapshot about to reference
    * it. Tree depth is fixed (commit dir → bucket dirs → part files), so the
    * walk is bounded by the dir's own file count. */
  private def newestMtime(p: Path): Long = {
    val own = Files.getLastModifiedTime(p).toMillis
    if (!Files.isDirectory(p)) own
    else (own +: LakeTable.listDir(p).map(newestMtime)).max
  }
}
