package graft.lake

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** From-scratch snapshot-isolated table format ("LakeTable") providing the
  * Iceberg semantics the north rule requires — no Iceberg/Delta runtime is
  * available offline (SURVEY §7.1), so snapshot log, atomic commit, offset
  * fencing, schema evolution, file-level manifests with key-range statistics,
  * and time travel are implemented here over plain Parquet.
  *
  * Layout:
  * {{{
  *   <dir>/snapshots/v000000000001.json           // snapshot log (hard-link CAS commit)
  *   <dir>/data/c<version>-<uuid>/_bucket=N/part-*.parquet
  * }}}
  *
  * Data is hash-bucketed on the logical key (repo, path):
  * bucket = pmod(hash(repo, path), numBuckets). The bucket is
  *  - the shuffle-alignment unit for the merge join (both sides partitioned by
  *    the same function ⇒ co-located, skew-free since hot repos spread over
  *    all buckets via the path component of the hash), and
  *  - the write-layout unit (`partitionBy("_bucket")`).
  *
  * WITHIN a bucket, data is tracked per FILE with min/max statistics over
  * `_hkey = xxhash64(repo, path)` (an Iceberg-manifest analog, read straight
  * from the Parquet footers). Files are written sorted by `_hkey` and split
  * at `targetFileRows`, so each covers a narrow, disjoint key slice — the
  * copy-on-write unit shrinks from a whole bucket to the files actually
  * containing delta keys.
  *
  * Base-file reads plan from the snapshot's manifests alone: every scan goes
  * through a [[ManifestFileIndex]] built from the manifest entries (path,
  * bucket, `_hkey` range, byte size), so no data directory is listed and no
  * file is statted. A read whose filter pins one key with
  * `repo = '<r>' AND path = '<p>'` opens only the files that can hold it:
  * bucket label == bucket(r, p) and minKey <= xxhash64(r, p) <= maxKey — the
  * test the copy-on-write merge already uses to pick files to rewrite. Any
  * other filter reads every selected file. Merge-on-read DELTA files are
  * still listed and read through Spark's file source (their reads infer a
  * merged schema), and key filters do not reach the base files a MOR read
  * joins against deltas (its `coalesce(d.repo, b.repo)` projection blocks
  * them).
  *
  * Every data file carries three internal columns beyond the user schema:
  * `_seq` (log sequence number of the last writer — LWW conflict resolution),
  * `_deleted` (tombstone flag; tombstones keep `_seq` so that a stale,
  * replayed update can never resurrect a deleted row — convergence is then
  * order-independent, fixing the reference's worker-pool reordering hazard,
  * SURVEY §4.3.2), and `_hkey` (the sort/stats key above; never read back,
  * only its footer statistics are).
  */
class LakeTable private (val spark: SparkSession, val dir: String, @volatile private var snap: Snapshot) {

  def snapshot: Snapshot = snap
  def schema: TableSchema = snap.schema
  def numBuckets: Int = snap.numBuckets

  /** Re-read the latest committed snapshot from disk. */
  def refresh(): Snapshot = {
    snap = LakeTable.latestSnapshot(dir).getOrElse(snap)
    snap
  }

  def snapshotAt(version: Long): Snapshot =
    Snapshot.fromJson(Files.readString(LakeTable.snapshotPath(dir, version))).hydrate(dir)

  /** bucket assignment for a (repo, path) key — Spark's Murmur3 `hash` is
    * deterministic across sessions, so bucketing is stable for the table's
    * lifetime. */
  def bucketExpr(repo: Column, path: Column): Column =
    LakeTable.bucketExpr(repo, path, snap.numBuckets)

  /** file-pruning / sort key — independent of the bucket hash (xxhash64 vs
    * Murmur3), so within a bucket the key space is uniformly covered. */
  def hkeyExpr(repo: Column, path: Column): Column = xxhash64(repo, path)

  /** Resolve a manifest-relative file path against the table root (absolute
    * paths from pre-relative metadata still resolve as themselves). */
  def resolve(path: String): String =
    if (path.startsWith("/")) path else s"$dir/$path"

  /** Public read: current rows under the current schema (tombstones and
    * internal columns hidden). */
  def read(): DataFrame = read(snap)

  def read(s: Snapshot): DataFrame =
    if (s.deltaFiles.nonEmpty) MorRead.resolve(this, s) // merge-on-read path
    else readInternal(s, s.files)
      .filter(!col("_deleted"))
      .select(s.schema.columns.map(c => col(c.name)): _*)

  def readAllInternal(): DataFrame = readInternal(snap, snap.files)

  /** Internal read of selected manifest files: current-schema columns + _seq +
    * _deleted, tombstones included. Old-schema files are mapped to the
    * current schema BY COLUMN ID (rename-safe) with Catalyst-safe casts
    * (widen-safe); columns missing from a file read as null. Each schema
    * group scans through a [[ManifestFileIndex]]: no listing, and a filter
    * pinning one (repo, path) key reads only the files that can hold it. */
  def readInternal(s: Snapshot, files: Seq[DataFile]): DataFrame = {
    val cur = s.schema
    val groups = files.groupBy(_.schemaId)
    val parts = groups.toSeq.sortBy(_._1).map { case (schemaId, fs) =>
      val fileSchema = s.schemaById(schemaId)
      val projection = cur.columns.map { c =>
        fileSchema.findById(c.id) match {
          case Some(fc) => col(fc.name).cast(TableSchema.toSpark(c.dataType)).as(c.name)
          case None => lit(null).cast(TableSchema.toSpark(c.dataType)).as(c.name)
        }
      } ++ Seq(col("_seq"), col("_deleted"))
      // file columns read as nullable, as every file source reads them
      val dataSchema = StructType((fileSchema.sparkType.fields ++ LakeTable.internalFields)
        .map(_.copy(nullable = true)))
      spark.baseRelationToDataFrame(HadoopFsRelation(
          new ManifestFileIndex(this, s.numBuckets, fs), new StructType(), dataSchema,
          None, new ParquetFileFormat, Map.empty)(spark))
        .select(projection: _*)
    }
    parts.reduceOption(_ unionByName _).getOrElse(emptyInternal(cur))
  }

  private def emptyInternal(cur: TableSchema): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(cur.sparkType.fields ++ LakeTable.internalFields))

  /** Atomically commit a new snapshot: drop the files at `replacedPaths`
    * (manifest-relative), add `newFiles`, merge the offset fence, add metric
    * deltas, optionally move to an evolved schema. Optimistic concurrency:
    * losing a version race throws CommitConflictException (caller may
    * refresh + retry).
    */
  def commit(
      replacedPaths: Set[String],
      newFiles: Seq[DataFile],
      fenceDelta: Map[Int, Long],
      metricsDelta: Map[String, Long],
      batchId: Long = -1L,
      newSchema: Option[TableSchema] = None,
      ddlSeq: Long = -1L,
      maxSeq: Long = -1L,
      /** new bucket count — ONLY valid when every file is replaced in the
        * same commit (a rebucket rewrite): a manifest must never mix files
        * bucketed under two different functions. */
      newNumBuckets: Option[Int] = None,
      /** merge-on-read delta EVENT files appended by this commit (streaming
        * MOR mode); `replacedPaths` drops from the delta list too (a
        * compaction fold replaces base files and removes the folded deltas
        * in one atomic commit). */
      newDeltaFiles: Seq[DataFile] = Seq.empty,
      /** how this commit updates the flat-delta scheduling histogram
        * ([[Snapshot.flatDeltaHist]]); appends Add, folds Sub. */
      flatHistOp: FlatHistOp = FlatHistOp.Keep): Snapshot = {
    val cur = snap
    newNumBuckets.foreach { n =>
      require(n > 0, "bucket count must be positive")
      require(cur.files.forall(f => replacedPaths.contains(f.path)),
        "changing numBuckets requires replacing every live file in the same commit")
      require(cur.deltaFiles.isEmpty && newDeltaFiles.isEmpty,
        "rebucket requires folding merge-on-read deltas first")
    }
    val schemas =
      newSchema match {
        case Some(ns) =>
          require(ns.schemaId > cur.schemaId, "schema id must advance")
          cur.schemas :+ ns
        case None => cur.schemas
      }
    val mergedFence = (cur.fence.keySet ++ fenceDelta.keySet).map { p =>
      p -> math.max(cur.fence.getOrElse(p, -1L), fenceDelta.getOrElse(p, -1L))
    }.toMap
    val mergedMetrics = (cur.metrics.keySet ++ metricsDelta.keySet).map { k =>
      k -> (cur.metrics.getOrElse(k, 0L) + metricsDelta.getOrElse(k, 0L))
    }.toMap
    // ---- segmented manifest evolution (Iceberg manifest-list analog) ----
    // Untouched manifests are reused by reference; manifests that lost an
    // entry are rewritten (survivors only); new files become one new
    // manifest. Pointer + manifest IO is O(changed files) per commit —
    // a fence-only commit writes no manifest at all. The hydrated in-memory
    // file lists are rebuilt in pointer order so they are bit-identical to
    // what a fresh process would hydrate.
    val (baseRefs, baseEntries) = evolveManifests(
      Manifest.BaseKind, cur.files, cur.manifests.filter(_.kind == Manifest.BaseKind),
      replacedPaths, newFiles)
    val (deltaRefs, deltaEntries) = evolveManifests(
      Manifest.DeltaKind, cur.deltaFiles, cur.manifests.filter(_.kind == Manifest.DeltaKind),
      replacedPaths, newDeltaFiles)
    // ---- flat-delta scheduling histogram (Snapshot.flatDeltaHist) ----
    // Manifest-ref stats (minBucket < 0 ⇔ ref holds flat files) keep these
    // checks hydration-free on the fence-only hot path.
    def histMerge(a: Map[Int, Long], b: Map[Int, Long], sign: Long): Map[Int, Long] =
      (a.keySet ++ b.keySet).iterator
        .map(k => k -> (a.getOrElse(k, 0L) + sign * b.getOrElse(k, 0L)))
        .filter(_._2 > 0L).toMap
    val flatRemain =
      if (deltaRefs.nonEmpty) deltaRefs.exists(_.minBucket < 0)
      else deltaEntries.nonEmpty && deltaEntries.exists(_.bucket < 0)
    // Keep is only honest when the commit adds no flat delta files; a caller
    // that appends flat deltas without accounting for them must poison the
    // histogram to unknown (scan fallback), never leave a stale exact value.
    val histOp =
      if (flatHistOp == FlatHistOp.Keep && newDeltaFiles.exists(_.bucket < 0))
        FlatHistOp.Add(None)
      else flatHistOp
    val nextFlatHist: Option[Map[Int, Long]] =
      if (!flatRemain) Some(Map.empty) // exact by construction: nothing flat left
      else histOp match {
        case FlatHistOp.Keep => cur.flatDeltaHist
        case FlatHistOp.Add(None) => None
        case FlatHistOp.Add(Some(h)) =>
          val curHasFlat =
            if (cur.manifests.nonEmpty)
              cur.manifests.exists(r => r.kind == Manifest.DeltaKind && r.minBucket < 0)
            else cur.deltaFiles.exists(_.bucket < 0)
          (if (curHasFlat) cur.flatDeltaHist else Some(Map.empty[Int, Long]))
            .map(histMerge(_, h, 1L))
        case FlatHistOp.Sub(h) => cur.flatDeltaHist.map(histMerge(_, h, -1L))
      }
    val next = Snapshot(
      version = cur.version + 1,
      parentVersion = cur.version,
      schemaId = newSchema.map(_.schemaId).getOrElse(cur.schemaId),
      numBuckets = newNumBuckets.getOrElse(cur.numBuckets),
      files = baseEntries,
      deltaFiles = deltaEntries,
      manifests = baseRefs ++ deltaRefs,
      fence = mergedFence,
      metrics = mergedMetrics,
      committedBatchId = math.max(batchId, cur.committedBatchId),
      schemas = schemas,
      tsMillis = System.currentTimeMillis(),
      ddlSeq = math.max(ddlSeq, cur.ddlSeq),
      maxSeq = math.max(maxSeq, cur.maxSeq),
      targetFileRows = cur.targetFileRows,
      flatDeltaHist = nextFlatHist)
    LakeTable.writeSnapshotAtomic(dir, next)
    snap = next
    next
  }

  /** Evolve one kind's manifest list for a commit; returns (pointer refs,
    * hydrated entries in pointer order). A legacy inline snapshot (entries
    * but no refs) is migrated wholesale on its first commit. Manifests
    * written here before a LOST version race become orphans — swept by
    * [[Maintenance.expireSnapshots]] after its grace window, like orphaned
    * commit data dirs. */
  private def evolveManifests(
      kind: String, curEntries: Seq[DataFile], curRefs: Seq[ManifestRef],
      replacedPaths: Set[String], newEntries: Seq[DataFile]): (Seq[ManifestRef], Seq[DataFile]) = {
    // fence-only / metadata-only commits (the streaming hot path's most
    // common shape) change no entries of this kind: reuse refs AND the
    // (possibly still-unhydrated) entry view untouched — zero manifest IO
    if (curRefs.nonEmpty && replacedPaths.isEmpty && newEntries.isEmpty)
      return (curRefs, curEntries)
    val groups: Seq[(Option[ManifestRef], Seq[DataFile])] =
      if (curRefs.nonEmpty) curRefs.map(r => (Some(r): Option[ManifestRef], Manifest.read(dir, r)))
      else if (curEntries.nonEmpty) Seq((None, curEntries)) // legacy inline → segment now
      else Seq.empty
    val kept = Seq.newBuilder[ManifestRef]
    val rewritten = Seq.newBuilder[DataFile]
    groups.foreach { case (refOpt, entries) =>
      val touched = refOpt.isEmpty || entries.exists(e => replacedPaths.contains(e.path))
      if (!touched) kept += refOpt.get
      else rewritten ++= entries.filterNot(e => replacedPaths.contains(e.path))
    }
    val freshGroups = Seq(rewritten.result(), newEntries).filter(_.nonEmpty)
    var refs = kept.result() ++ freshGroups.map(es => Manifest.write(dir, es, kind))
    // bound pointer size: past the cap, merge the smallest manifests down to
    // half the cap (amortized — steady-state commits stay O(changed files))
    if (refs.size > Manifest.MaxManifests) {
      val sorted = refs.sortBy(_.fileCount)
      val mergeN = refs.size - Manifest.MaxManifests / 2 + 1
      val (small, big) = sorted.splitAt(mergeN)
      val merged = Manifest.write(dir, small.flatMap(r => Manifest.read(dir, r)), kind)
      refs = big :+ merged
    }
    // entries stay LAZY: the hydrated view materializes only when a reader
    // plans over it, and then bit-identically to a fresh process (pointer
    // order; the just-written manifests are already in the cache)
    (refs, new Manifest.LazyEntries(dir, refs))
  }

  /** Schema-only evolution commit (DDL barrier, SURVEY §3.2). `ddlSeq` is
    * the applied DDL event's log seq — the schema-evolution fence. */
  def evolveSchema(f: TableSchema => TableSchema, ddlSeq: Long = -1L): Snapshot =
    commit(Set.empty, Seq.empty, Map.empty, Map.empty, newSchema = Some(f(schema)),
      ddlSeq = ddlSeq)

  /** Directory for a new commit's data files. */
  def newCommitDataDir(): String = {
    val p = Paths.get(dir, "data", s"c${snap.version + 1}-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.createDirectories(p)
    p.toString
  }

  /** List the parquet files written under a commit data dir (`_bucket=N/`
    * subdirs) and build manifest entries with per-file row counts and
    * `_hkey` min/max stats straight from the Parquet footers. Small commits
    * read footers on a driver thread pool (cheap metadata fetches); past
    * [[LakeTable.DistributedFooterStatsMinFiles]] files the reads run as a
    * small Spark job (Iceberg manifest-writer shape) — a bulk load/rebucket
    * at cluster scale writes 10^4+ files, and a driver-serial footer pass
    * would be the only O(files) driver step left in the commit. Both paths
    * produce identical entries (asserted in FilePruningSpec). */
  def listWrittenFiles(commitDir: String, schemaId: Int,
      distributedMinFiles: Int = LakeTable.DistributedFooterStatsMinFiles): Seq[DataFile] = {
    val root = Paths.get(dir).toAbsolutePath.normalize
    val dirs = LakeTable.listDir(Paths.get(commitDir))
      .filter(p => p.getFileName.toString.startsWith("_bucket="))
    val targets: Seq[(Int, String)] = for {
      p <- dirs
      b = p.getFileName.toString.stripPrefix("_bucket=").toInt
      f <- LakeTable.listDir(p) if f.getFileName.toString.endsWith(".parquet")
    } yield (b, f.toAbsolutePath.normalize.toString)

    val stats: Seq[(Int, String, Long, Long, Long, Long)] =
      if (targets.size >= distributedMinFiles) {
        // one shuffle-free stage: parallelize WITH slices (a repartition here
        // cost a whole extra stage + exchange — measured ~2.5-8 s per replay
        // when every commit crossed the old 512-file threshold, a fixed tax
        // the 16-thread driver pool never paid; see BENCH/runs.md A/B)
        val parallelism = math.max(1, math.min(targets.size / 64 + 1,
          spark.sparkContext.defaultParallelism))
        spark.sparkContext.parallelize(targets, parallelism)
          .mapPartitions { it =>
            // executors build a plain local-FS conf; the session conf object
            // is not serializable and carries nothing these reads need
            val conf = new org.apache.hadoop.conf.Configuration()
            it.map { case (b, pStr) =>
              val p = Paths.get(pStr)
              val (rows, minK, maxK) = LakeTable.footerStats(p, conf)
              (b, pStr, rows, minK, maxK, Files.size(p))
            }
          }.collect().toSeq
      } else {
        // footer reads are independent metadata fetches — concurrent pool
        import scala.concurrent.{Await, Future, ExecutionContext}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = LakeTable.metaPool
        val conf = spark.sessionState.newHadoopConf()
        Await.result(Future.sequence(targets.map { case (b, pStr) =>
          Future {
            val p = Paths.get(pStr)
            val (rows, minK, maxK) = LakeTable.footerStats(p, conf)
            (b, pStr, rows, minK, maxK, Files.size(p))
          }
        }), Duration.Inf)
      }
    stats.map { case (b, pStr, rows, minK, maxK, sz) =>
      DataFile(b, root.relativize(Paths.get(pStr)).toString, schemaId, rows, minK, maxK,
        bytes = sz)
    }.filter(_.rows > 0)
  }

  /** Manifest entries for a FLAT commit dir (no `_bucket=N` layout) — the
    * merge-on-read delta append's shape: delta event files are read wholesale
    * and never pruned by bucket or key range, so they carry `bucket = -1`
    * and the full key range instead of paying a per-bucket write fan-out and
    * per-file stats reads on the streaming hot path. Row counts still come
    * from the footers (a handful of files per batch). */
  def listWrittenFilesFlat(commitDir: String, schemaId: Int): Seq[DataFile] = {
    val root = Paths.get(dir).toAbsolutePath.normalize
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = LakeTable.metaPool
    val futures = for {
      f <- LakeTable.listDir(Paths.get(commitDir))
      if f.getFileName.toString.endsWith(".parquet")
    } yield Future {
      val (rows, _, _) = LakeTable.footerStats(f, spark.sessionState.newHadoopConf())
      val rel = root.relativize(f.toAbsolutePath.normalize).toString
      DataFile(-1, rel, schemaId, rows, Long.MinValue, Long.MaxValue, bytes = Files.size(f))
    }
    Await.result(Future.sequence(futures), Duration.Inf).filter(_.rows > 0)
  }

}

class CommitConflictException(msg: String) extends RuntimeException(msg)

object LakeTable {

  /** Optimistic-concurrency retry loop for whole operations (Iceberg
    * semantics): on a snapshot version race the table is refreshed and `body`
    * re-runs against the new snapshot. `body` must re-read
    * `table.snapshot`/`table.refresh()` at its top and be safe to re-execute
    * (pure rewrite ops — compact, rebucket — and fence-only commits are). */
  def withCommitRetry[T](table: LakeTable, maxAttempts: Int = 5)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt >= maxAttempts) throw e
          table.refresh()
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commits writing at least this many files compute footer stats via a
    * Spark job instead of the driver thread pool (see listWrittenFiles).
    * Sized where the job WINS: the pool reads 4096 footers in ~2-3 s at 16
    * threads, while even a shuffle-free job pays scheduling + collect
    * latency — the round-5 512-file default put a measured ~2.5-8 s Spark
    * job on EVERY bulk-replay commit and cost ~7 s per 32M-event replay
    * (same-window A/B vs the pool, BENCH/runs.md). GRAFT_FOOTER_JOB_MIN_FILES
    * overrides (ops knob + A/B lever). */
  val DistributedFooterStatsMinFiles: Int =
    sys.env.get("GRAFT_FOOTER_JOB_MIN_FILES").map(_.toInt).getOrElse(4096)

  /** (rowCount, min(_hkey), max(_hkey)) from one parquet footer. Missing
    * stats degrade to the full range — pruning stays sound (over-inclusive).
    * Static and conf-parameterized so it runs identically on the driver pool
    * and inside the distributed footer-stats task. */
  private[lake] def footerStats(
      file: Path, conf: org.apache.hadoop.conf.Configuration): (Long, Long, Long) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val rows = reader.getRecordCount
      val blocks = reader.getFooter.getBlocks.asScala
      val stats = blocks.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == LakeTable.HkeyCol)
        .map(_.getStatistics)
        .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
      if (stats.isEmpty) (rows, Long.MinValue, Long.MaxValue)
      else (
        rows,
        stats.map(_.genericGetMin.asInstanceOf[java.lang.Long].longValue()).min,
        stats.map(_.genericGetMax.asInstanceOf[java.lang.Long].longValue()).max)
    } finally reader.close()
  }

  private[lake] lazy val metaPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(16,
        (r: Runnable) => { val t = new Thread(r, "lake-meta"); t.setDaemon(true); t }))

  /** bucket assignment under `numBuckets`: pmod(Murmur3 hash(repo, path), n). */
  def bucketExpr(repo: Column, path: Column, numBuckets: Int): Column =
    pmod(hash(repo, path), lit(numBuckets))

  val SeqCol = "_seq"
  val DeletedCol = "_deleted"
  val HkeyCol = "_hkey"
  /** internal columns present in the READ projection (files additionally
    * store `_hkey`, consumed only via footer statistics). */
  val internalFields: Array[StructField] = Array(
    StructField(SeqCol, LongType, nullable = false),
    StructField(DeletedCol, BooleanType, nullable = false))

  private def snapshotsDir(dir: String): Path = Paths.get(dir, "snapshots")
  private[lake] def snapshotPath(dir: String, version: Long): Path =
    snapshotsDir(dir).resolve(f"v$version%012d.json")

  private[lake] def writeSnapshotAtomic(dir: String, s: Snapshot): Unit = {
    val snapDir = snapshotsDir(dir)
    Files.createDirectories(snapDir)
    val tmp = snapDir.resolve(s"_tmp-${java.util.UUID.randomUUID()}.json")
    // force the snapshot bytes to disk BEFORE publishing: a crash must never
    // leave the newest version file empty/truncated
    scala.util.Using.resource(java.nio.channels.FileChannel.open(
      tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)) { ch =>
      ch.write(java.nio.ByteBuffer.wrap(s.toJson.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      ch.force(true)
    }
    // Atomic compare-and-set publish: a POSIX rename silently REPLACES an
    // existing target, so ATOMIC_MOVE cannot detect a version race. Hard-link
    // creation is atomic and fails with FileAlreadyExistsException if the
    // version was committed concurrently — the loser must refresh and retry.
    try {
      Files.createLink(snapshotPath(dir, s.version), tmp)
      Files.deleteIfExists(tmp)
      fsyncDir(snapDir) // make the dir entry itself durable
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new CommitConflictException(s"version ${s.version} already committed by a concurrent writer")
    }
  }

  private[lake] def fsyncDir(p: Path): Unit =
    try scala.util.Using.resource(
      java.nio.channels.FileChannel.open(p, StandardOpenOption.READ))(_.force(true))
    catch { case _: java.io.IOException => () } // non-POSIX FS: best effort

  /** Newest PARSEABLE snapshot: a snapshot file truncated by an OS crash
    * (pre-fsync era, or a torn copy) must not brick the table — skip it and
    * fall back to the previous version. */
  private[lake] def latestSnapshot(dir: String): Option[Snapshot] = {
    val sd = snapshotsDir(dir)
    if (!Files.isDirectory(sd)) return None
    val names = listDir(sd)
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .sorted.reverseIterator
    names.flatMap { n =>
      // hydrate inside the fallback guard: a snapshot whose manifests were
      // torn away by the same crash is as unreadable as a torn pointer
      try Some(Snapshot.fromJson(Files.readString(sd.resolve(n))).hydrate(dir))
      catch {
        case e: Exception =>
          System.err.println(s"[lake] skipping unreadable snapshot $n: ${e.getMessage}")
          None
      }
    }.nextOption()
  }

  /** Files.list with guaranteed stream close (each open stream holds a
    * directory fd; the per-commit hot path must not leak them). */
  private[graft] def listDir(p: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(p))(_.iterator().asScala.toSeq)

  def create(spark: SparkSession, dir: String, numBuckets: Int = 64,
      schema: TableSchema = TableSchema.base,
      targetFileRows: Long = 1L << 20): LakeTable = {
    val s0 = Snapshot(
      version = 0L, parentVersion = -1L, schemaId = schema.schemaId,
      numBuckets = numBuckets, files = Seq.empty, fence = Map.empty,
      metrics = Map.empty, committedBatchId = -1L, schemas = Seq(schema),
      tsMillis = System.currentTimeMillis(), ddlSeq = -1L,
      targetFileRows = targetFileRows)
    writeSnapshotAtomic(dir, s0)
    new LakeTable(spark, dir, s0)
  }

  /** Read-only peek at the latest committed snapshot (no SparkSession — the
    * HTTP control plane serves metadata without touching the engine). */
  def peekSnapshot(dir: String): Option[Snapshot] = latestSnapshot(dir)

  def load(spark: SparkSession, dir: String): LakeTable =
    new LakeTable(spark, dir, latestSnapshot(dir).getOrElse(
      throw new IllegalArgumentException(s"not a LakeTable: $dir")))

  def exists(dir: String): Boolean = latestSnapshot(dir).isDefined
}
