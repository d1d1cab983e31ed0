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
  *  - the write-layout unit (one `_bucket=N/` directory per bucket).
  *
  * WITHIN a bucket, data is tracked per FILE with min/max statistics over
  * `_hkey = xxhash64(repo, path)` (an Iceberg-manifest analog, read straight
  * from the Parquet footers). Files are written sorted by `_hkey` and split
  * at `targetFileRows`, so each covers a narrow, disjoint key slice — the
  * copy-on-write unit shrinks from a whole bucket to the files actually
  * containing delta keys.
  *
  * Every data file of every commit is written and listed here:
  * [[bucketRows]] adds the layout columns (and routes rows by bucket when
  * asked), [[writeFiles]] writes one commit's files — base files or delta
  * files, each under its `_bucket=N/` dir — and returns their manifest
  * entries for [[commit]]. The COW merge, MOR appends, folds,
  * delta-log compaction, compact and rebucket all write through it.
  *
  * Base-file reads plan from the snapshot's manifests alone: every scan goes
  * through a [[ManifestFileIndex]] built from the manifest entries (path,
  * bucket, `_hkey` range, byte size), so no data directory is listed and no
  * file is statted. A read whose filter pins one key with
  * `repo = '<r>' AND path = '<p>'` opens only the files that can hold it:
  * bucket label == bucket(r, p) and minKey <= xxhash64(r, p) <= maxKey — the
  * test the copy-on-write merge already uses to pick files to rewrite. Any
  * other filter reads every selected file. Merge-on-read DELTA files plan
  * the same way: [[writeFiles]] records each delta file's event schema in its
  * manifest entry, and their one read, [[MorRead.deltaEvents]], merges those
  * schemas on the driver and scans through a [[ManifestFileIndex]] too. A
  * keyed MOR read's filter reaches the base scan it joins against the deltas
  * (one file opened) and the delta scan (the key's bucket's files only).
  *
  * Every data file carries three internal columns beyond the user schema:
  * `_seq` (log sequence number of the last writer — LWW conflict resolution),
  * `_deleted` (tombstone flag; tombstones keep `_seq` so that a stale,
  * replayed update can never resurrect a deleted row — convergence is then
  * order-independent, fixing the reference's worker-pool reordering hazard,
  * SURVEY §4.3.2), and `_hkey` (the sort/stats key above; never read back,
  * only its footer statistics are).
  *
  * One table format: readers assume the metadata this build writes — every
  * pointer lists manifests, every entry has a relative path and a positive
  * size, every delta entry its event schema. The parsers ([[Snapshot]],
  * [[Manifest]]) refuse older shapes with a [[TableFormatException]]; such a
  * table is rebuilt with `replay` from its changelog.
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

  /** Resolve a manifest-relative file path against the table root. */
  def resolve(path: String): String = s"$dir/$path"

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
      // file columns read as nullable, as every file source reads them
      val dataSchema = StructType((fileSchema.sparkType.fields ++ LakeTable.internalFields)
        .map(_.copy(nullable = true)))
      manifestScan(s.numBuckets, fs, dataSchema)
        .select(cur.projectFrom(fileSchema) :+ col("_seq") :+ col("_deleted"): _*)
    }
    parts.reduceOption(_ unionByName _).getOrElse(emptyInternal(cur))
  }

  /** A Parquet scan of manifest `files` (written under `numBuckets`) with
    * the given data schema, through a [[ManifestFileIndex]]: no listing, no
    * footer read, and a pinned (repo, path) key keeps only the files that
    * can hold it. */
  private[lake] def manifestScan(numBuckets: Int, files: Seq[DataFile],
      dataSchema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new ManifestFileIndex(this, numBuckets, files), new StructType(), dataSchema,
      None, new ParquetFileFormat, Map.empty)(spark))

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
      newDeltaFiles: Seq[DataFile] = Seq.empty): Snapshot = {
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
      targetFileRows = cur.targetFileRows)
    LakeTable.writeSnapshotAtomic(dir, next)
    snap = next
    next
  }

  /** Evolve one kind's manifest list for a commit; returns (pointer refs,
    * hydrated entries in pointer order). Manifests written here before a
    * LOST version race become orphans — swept by [[Maintenance.expireSnapshots]]
    * after its grace window, like orphaned commit data dirs. */
  private def evolveManifests(
      kind: String, curEntries: Seq[DataFile], curRefs: Seq[ManifestRef],
      replacedPaths: Set[String], newEntries: Seq[DataFile]): (Seq[ManifestRef], Seq[DataFile]) = {
    // fence-only / metadata-only commits (the streaming hot path's most
    // common shape) change no entries of this kind: reuse refs AND the
    // (possibly still-unhydrated) entry view untouched — zero manifest IO
    if (replacedPaths.isEmpty && newEntries.isEmpty) return (curRefs, curEntries)
    val kept = Seq.newBuilder[ManifestRef]
    val rewritten = Seq.newBuilder[DataFile]
    curRefs.foreach { r =>
      val entries = Manifest.read(dir, r)
      if (!entries.exists(e => replacedPaths.contains(e.path))) kept += r
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

  /** The layout columns of one commit's rows: `_bucket` under `numBuckets`
    * and, for base files, the `_hkey` sort/stats key. With `route` the rows
    * are exchanged by `_bucket` to min(route, shuffle partitions) tasks, so
    * a commit writes about one file per bucket and split, not tasks ×
    * buckets. Delta files carry no `_hkey`: reads prune them by bucket
    * only. */
  def bucketRows(rows: DataFrame, base: Boolean, route: Option[Int] = None,
      numBuckets: Int = snap.numBuckets): DataFrame = {
    val bucketed = rows.withColumn("_bucket", LakeTable.bucketExpr(col("repo"), col("path"), numBuckets))
    val laidOut =
      if (base) bucketed.withColumn(LakeTable.HkeyCol, hkeyExpr(col("repo"), col("path")))
      else bucketed
    route.fold(laidOut) { n =>
      val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
      laidOut.repartition(math.max(1, math.min(n, shufflePartitions)), col("_bucket"))
    }
  }

  /** Write one commit's data files into a fresh commit dir and return their
    * manifest entries. The rows carry the layout columns of [[bucketRows]]
    * and land in `_bucket=N/` dirs, so every file holds one bucket's rows
    * and its entry names that bucket. Base files are sorted by (`_bucket`, `_hkey`)
    * and zstd-compressed: they live until rewritten and dominate table bytes
    * at rest. Delta files are snappy: written once, read once or twice (MOR
    * reads, fold) and dropped, so encode speed beats ratio. Every file splits
    * at `targetFileRows`, so a base file covers a narrow key slice. A delta
    * file's entry records its data schema (the rows' schema without
    * `_bucket`), known here before the write, so delta reads need no
    * footer. */
  def writeFiles(rows: DataFrame, base: Boolean): Seq[DataFile] = {
    val s = snap
    val commitDir = newCommitDataDir()
    val out = if (base) rows.sortWithinPartitions(col("_bucket"), col(LakeTable.HkeyCol)) else rows
    val writer = out.write.mode("overwrite") // commitDir is fresh; overwrite = retry-safe
      .option("compression", if (base) "zstd" else "snappy")
      .option("maxRecordsPerFile", s.targetFileRows.toString)
    writer.partitionBy("_bucket").parquet(commitDir)
    val eventSchema =
      if (base) None else Some(StructType(rows.schema.filterNot(_.name == "_bucket")))
    listFiles(commitDir, s.schemaId).map(_.copy(eventSchema = eventSchema))
  }

  /** Manifest entries for a commit dir's parquet files, with row counts and
    * sizes from the footers (read on a driver thread pool: independent
    * metadata fetches). A file under `_bucket=N/` carries bucket N and its
    * `_hkey` min/max (the full range for a delta file, which has no `_hkey`).
    * Empty files are dropped. */
  private def listFiles(commitDir: String, schemaId: Int): Seq[DataFile] = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = LakeTable.metaPool
    val root = Paths.get(dir).toAbsolutePath.normalize
    def isParquet(p: Path): Boolean = p.getFileName.toString.endsWith(".parquet")
    val targets: Seq[(Int, Path)] = LakeTable.listDir(Paths.get(commitDir)).flatMap { p =>
      val name = p.getFileName.toString
      if (!name.startsWith("_bucket=")) Seq.empty
      else LakeTable.listDir(p).filter(isParquet).map(f => (name.stripPrefix("_bucket=").toInt, f))
    }
    val conf = spark.sessionState.newHadoopConf()
    Await.result(Future.traverse(targets) { case (b, f) =>
      Future {
        val (rows, minK, maxK) = LakeTable.footerStats(f, conf)
        DataFile(b, root.relativize(f.toAbsolutePath.normalize).toString, schemaId, rows, minK, maxK,
          bytes = Files.size(f))
      }
    }, Duration.Inf).filter(_.rows > 0)
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

  /** (rowCount, min(_hkey), max(_hkey)) from one parquet footer. Missing
    * stats degrade to the full range — pruning stays sound (over-inclusive). */
  private def footerStats(
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
    * fall back to the previous version. A pointer in an older build's shape
    * is not torn: its refusal propagates rather than loading an older
    * version. */
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
        case e: TableFormatException => throw e
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
