package graft.lake

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}

/** Table maintenance: bucket compaction (small-file merging + tombstone GC)
  * and snapshot expiry (metadata + unreferenced-data cleanup).
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
    * tombstoneHorizon. Commits one new snapshot. */
  def compact(
      table: LakeTable,
      maxFilesPerBucket: Int = 1,
      tombstoneHorizon: Option[Long] = None,
      force: Boolean = false): CompactionResult =
    // Optimistic retry: compaction racing a live tail's merge commit loses the
    // version CAS; since compaction is a pure rewrite, the safe recovery is to
    // redo it wholesale against the refreshed snapshot (our output may be
    // missing rows the winner just merged into the candidate files).
    LakeTable.withCommitRetry(table)(
      compactOnce(table, maxFilesPerBucket, tombstoneHorizon, force))

  private def compactOnce(
      table: LakeTable,
      maxFilesPerBucket: Int,
      tombstoneHorizon: Option[Long],
      force: Boolean): CompactionResult = {
    val snap = table.snapshot
    require(snap.deltaFiles.isEmpty,
      "MOR table has unfolded delta files — run graft.ingest.Mor.fold first " +
        "(compaction reads base files only; folding is itself the MOR compaction)")
    val byBucket = snap.files.groupBy(_.bucket)
    val candidates: Seq[DataFile] = byBucket.valuesIterator
      .filter(fs => force || fs.size > maxFilesPerBucket)
      .flatten.toSeq
    if (candidates.isEmpty) return CompactionResult(0, 0L)

    val base = table.readInternal(snap, candidates)
    // count dropped tombstones in-flight with the rewrite (no second scan)
    val obs = org.apache.spark.sql.Observation(
      s"compact-${java.util.UUID.randomUUID()}")
    val isExpired = tombstoneHorizon match {
      case Some(h) => col(LakeTable.DeletedCol) && col(LakeTable.SeqCol) <= h
      case None => lit(false)
    }
    val buckets = candidates.map(_.bucket).distinct
    val kept = base
      .observe(obs, sum(when(isExpired, 1L).otherwise(0L)).as("dropped"))
      .filter(!isExpired)
    val routed = kept
      .withColumn("_bucket", table.bucketExpr(col("repo"), col("path")))
      .withColumn(LakeTable.HkeyCol, table.hkeyExpr(col("repo"), col("path")))
      .repartition(math.max(1, math.min(buckets.size,
        table.spark.conf.get("spark.sql.shuffle.partitions").toInt)), col("_bucket"))
      .sortWithinPartitions(col("_bucket"), col(LakeTable.HkeyCol))
    val commitDir = table.newCommitDataDir()
    routed.write.mode("overwrite")
      .option("compression", "zstd")
      .option("maxRecordsPerFile", snap.targetFileRows.toString)
      .partitionBy("_bucket").parquet(commitDir)
    val newFiles = table.listWrittenFiles(commitDir, snap.schemaId)
    val dropped = obs.get.get("dropped") match {
      case Some(v: java.lang.Long) => v.longValue()
      case Some(v: Long) => v
      case _ => 0L
    }
    table.commit(candidates.map(_.path).toSet, newFiles, Map.empty,
      Map("compactions" -> 1L, "tombstonesExpired" -> dropped))
    CompactionResult(buckets.size, dropped)
  }

  final case class RebucketResult(oldBuckets: Int, newBuckets: Int, filesWritten: Int)

  /** Rewrite the WHOLE table under a new bucket count — the lift for the
    * create-time `numBuckets` as the table grows (bucket count bounds merge
    * parallelism and write layout; a table that grew 100× needs more buckets
    * for strategy-3 merges to use more than `oldBuckets` tasks). Snapshot-
    * atomic like compact: old snapshots keep reading their own files; readers
    * and mergers pick up the new bucket function from the new snapshot.
    * Safe beside a live tail via optimistic retry. */
  def rebucket(table: LakeTable, newBuckets: Int): RebucketResult = {
    require(newBuckets > 0, "newBuckets must be positive")
    LakeTable.withCommitRetry(table)(rebucketOnce(table, newBuckets))
  }

  private def rebucketOnce(table: LakeTable, newBuckets: Int): RebucketResult = {
    val snap = table.snapshot
    require(snap.deltaFiles.isEmpty,
      "MOR table has unfolded delta files — run graft.ingest.Mor.fold first")
    val oldBuckets = snap.numBuckets
    if (oldBuckets == newBuckets) return RebucketResult(oldBuckets, newBuckets, 0)
    val spark = table.spark
    val base = table.readInternal(snap, snap.files)
    // the NEW bucket function — table.bucketExpr still reads the old count
    val newBucket = LakeTable.bucketExpr(col("repo"), col("path"), newBuckets)
    val routed = base
      .withColumn("_bucket", newBucket)
      .withColumn(LakeTable.HkeyCol, table.hkeyExpr(col("repo"), col("path")))
      .repartition(math.max(1, math.min(newBuckets,
        spark.conf.get("spark.sql.shuffle.partitions").toInt)), col("_bucket"))
      .sortWithinPartitions(col("_bucket"), col(LakeTable.HkeyCol))
    val commitDir = table.newCommitDataDir()
    routed.write.mode("overwrite")
      .option("compression", "zstd")
      .option("maxRecordsPerFile", snap.targetFileRows.toString)
      .partitionBy("_bucket").parquet(commitDir)
    val newFiles = table.listWrittenFiles(commitDir, snap.schemaId)
    table.commit(snap.files.map(_.path).toSet, newFiles, Map.empty,
      Map("rebuckets" -> 1L), newNumBuckets = Some(newBuckets))
    RebucketResult(oldBuckets, newBuckets, newFiles.size)
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
    // bucketed files sit at data/<commit>/_bucket=N/part.parquet but flat MOR
    // delta files at data/<commit>/part.parquet (one level shallower), and a
    // parent-count walk resolved the latter to "data" — live delta commit
    // dirs then never entered the referenced set and were GC'd past the
    // grace window (round-4 ADVICE, data loss).
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
