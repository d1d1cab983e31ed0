package graft.lake

import org.apache.spark.sql.types.{DataType, StructType}

/** One data file in the manifest: a Parquet file holding rows of exactly one
  * bucket ([[LakeTable.bucketExpr]] of its keys), written under
  * `schemaId`, with min/max statistics over the rows' 64-bit key hash
  * `_hkey = xxhash64(repo, path)` taken from the Parquet footer.
  *
  * `path` is RELATIVE to the table root (so a table can be moved/symlinked
  * without invalidating its metadata — path-string comparisons during
  * maintenance stay sound).
  *
  * The (minKey, maxKey) range is the copy-on-write pruning unit: a merge
  * rewrites only files whose key range contains a delta key. Files written
  * sorted by `_hkey` and split at `targetFileRows` cover narrow, disjoint key
  * ranges, so a point update rewrites ~one file instead of a whole bucket —
  * the difference between O(batch) and O(table) write amplification at
  * 10^10-event scale.
  */
final case class DataFile(
    bucket: Int, path: String, schemaId: Int, rows: Long,
    minKey: Long, maxKey: Long,
    /** on-disk (compressed) file size, always positive — the byte input to
      * broadcast-shape gates ([[MorRead]]), scan planning
      * ([[ManifestFileIndex]]) and compaction scheduling. */
    bytes: Long,
    /** a DELTA file's data schema (its event columns), recorded when the
      * file is listed: merge-on-read reads build their merged read schema
      * from these on the driver instead of a schema-merge job over the
      * footers. Always present on delta entries; None on base files (their
      * schema is `schemaId`'s). */
    eventSchema: Option[StructType] = None)

/** Table metadata in a shape this build does not write: a table from an older
  * build. Readers carry no per-format fallbacks — like any sink state derived
  * from the durable changelog, such a table is rebuilt with `replay`. */
final class TableFormatException(field: String, problem: String, remedy: String = "")
  extends IllegalStateException(
    s"table metadata field '$field' $problem: this build reads only the metadata it writes; " +
      s"${remedy}rebuild the table with `replay` from its changelog")

/** An immutable table snapshot. Commits are atomic: the snapshot JSON is
  * written to a tmp file (fsynced), then published via hard-link
  * creation-as-CAS — a concurrent committer of the same version loses with
  * FileAlreadyExistsException (optimistic concurrency).
  *
  * `fence` is the exactly-once high-water mark: log partition → highest
  * offset applied into this snapshot. It is the engine's durable, transactional
  * replacement for the reference's best-effort `t_positions` row
  * (/root/reference/cobra/cobra.go:18-20,144-169): because the fence commits
  * in the SAME atomic action as the data, replayed batches at-or-below the
  * fence are skipped and re-delivery is idempotent (fixes SURVEY §4.3.1).
  *
  * `metrics` is cumulative lineage (eventsApplied, tombstonesWritten,
  * conflictsLww, deadLetters, ...), the run-report analog of
  * /root/reference/rules/factory_http.go:50-89.
  */
final case class Snapshot(
    version: Long,
    parentVersion: Long,
    schemaId: Int,
    numBuckets: Int,
    files: Seq[DataFile],
    fence: Map[Int, Long],
    metrics: Map[String, Long],
    committedBatchId: Long,
    schemas: Seq[TableSchema],
    tsMillis: Long,
    /** high-water mark of applied DDL events' `seq` — schema evolution is
      * fenced exactly like data (a retried batch skips already-applied DDL,
      * which per-op checks cannot do for add→widen→rename chains). */
    ddlSeq: Long = -1L,
    /** GTID analog (/root/reference/cobra/cobra.go:18-20,83-85): the global
      * log sequence number of the newest row applied into this snapshot — a
      * single consistency token alongside the per-partition fence. */
    maxSeq: Long = -1L,
    /** writer splits output files at this many rows (sorted by `_hkey`), so
      * each file covers a narrow key range — the knob that makes min/max
      * pruning effective. */
    targetFileRows: Long = 1L << 20,
    /** Merge-on-read delta files (Hudi-MOR / Iceberg-v2 analog): Parquet
      * EVENT logs (repo, path, op, seq, after-image) appended by streaming
      * micro-batches in MOR mode for O(batch) write cost, each holding the
      * rows of the one bucket its entry names. Reads resolve them against
      * `files` by last-writer-wins at query time; folds merge them into base
      * files through the ordinary COW merge and drop them. Empty for pure
      * copy-on-write tables. */
    deltaFiles: Seq[DataFile] = Seq.empty,
    /** SEGMENTED manifest pointers (Iceberg manifest-list analog; see
      * [[Manifest]]). The persisted snapshot carries ONLY these references —
      * `files`/`deltaFiles` above are the HYDRATED view, filled from the
      * (cached) manifest files at load time and equal to the concatenation
      * of base / delta manifests' entries in pointer order. Empty exactly
      * when the table holds no file (the v0 of a new table). */
    manifests: Seq[ManifestRef] = Seq.empty) {

  def schema: TableSchema = schemas.find(_.schemaId == schemaId).get
  def schemaById(id: Int): TableSchema = schemas.find(_.schemaId == id).get
  // row counts answer from the pointer's manifest stats — no entry
  // hydration (the /report + metrics path must stay IO-free)
  def totalRows: Long = manifests.iterator.filter(_.kind == Manifest.BaseKind).map(_.rows).sum
  def deltaRows: Long = manifests.iterator.filter(_.kind == Manifest.DeltaKind).map(_.rows).sum
  def filesOf(buckets: Set[Int]): Seq[DataFile] = files.filter(f => buckets.contains(f.bucket))

  /** The persisted pointer: manifest REFS, never file entries — snapshot
    * bytes are O(#manifests), and `/report` serves position/lineage without
    * inlining a million-file list. */
  def toJson: String = {
    require(manifests.nonEmpty || (files.isEmpty && deltaFiles.isEmpty),
      "file entries persist only through manifests")
    Json.obj(Seq(
      "version" -> version.toString,
      "parentVersion" -> parentVersion.toString,
      "schemaId" -> schemaId.toString,
      "numBuckets" -> numBuckets.toString,
      "committedBatchId" -> committedBatchId.toString,
      "ddlSeq" -> ddlSeq.toString,
      "maxSeq" -> maxSeq.toString,
      "targetFileRows" -> targetFileRows.toString,
      "tsMillis" -> tsMillis.toString,
      "manifestList" -> Json.arrOf(manifests.map(_.toJson)),
      "fence" -> Json.obj(fence.toSeq.sortBy(_._1).map { case (p, o) => p.toString -> o.toString }: _*),
      "metrics" -> Json.obj(metrics.toSeq.sorted.map { case (k, v) => k -> v.toString }: _*),
      "schemas" -> Json.arrOf(schemas.map(_.toJson))): _*)
  }

  /** Bind `files`/`deltaFiles` to LAZY views over the manifest files:
    * entries are read only when something first plans over them — a load, a
    * fence-only commit, `/report` and the metrics surface do ZERO manifest
    * IO (and size/isEmpty gates answer from the pointer's recorded counts). When entries ARE forced, IO cost is
    * O(manifests not yet in the process cache). Manifest EXISTENCE is
    * checked eagerly (cheap stats): the torn-crash fallback in
    * [[LakeTable.latestSnapshot]] must reject a pointer whose manifests were
    * lost with it at LOAD time, not at first use deep inside a query. */
  def hydrate(tableDir: String): Snapshot = {
    manifests.foreach { r =>
      val p = java.nio.file.Paths.get(tableDir).resolve(r.path)
      if (!java.nio.file.Files.isRegularFile(p))
        throw new java.io.IOException(s"manifest missing: ${r.path}")
      // stat-level integrity (no read): a torn/truncated manifest has the
      // wrong length; same-length corruption still surfaces (as a parse
      // error) at first entry access
      if (java.nio.file.Files.size(p) != r.bytes)
        throw new java.io.IOException(
          s"manifest torn: ${r.path} (${java.nio.file.Files.size(p)} bytes, expected ${r.bytes})")
    }
    copy(
      files = new Manifest.LazyEntries(tableDir, manifests.filter(_.kind == Manifest.BaseKind)),
      deltaFiles = new Manifest.LazyEntries(tableDir, manifests.filter(_.kind == Manifest.DeltaKind)))
  }
}

object Snapshot {
  private[lake] def fileJson(f: DataFile): String = Json.obj(Seq(
    "bucket" -> f.bucket.toString,
    "path" -> Json.quote(f.path),
    "schemaId" -> f.schemaId.toString,
    "rows" -> f.rows.toString,
    "minKey" -> f.minKey.toString,
    "maxKey" -> f.maxKey.toString,
    "bytes" -> f.bytes.toString) ++
    f.eventSchema.toSeq.map(es => "eventSchema" -> Json.quote(es.json)): _*)

  /** One manifest entry of a manifest of `kind`. Refuses the shapes older
    * builds wrote: a size that is not positive, an absolute path, a delta
    * entry without its event schema or without a bucket (an unfolded flat
    * append). */
  private[lake] def fileFromJson(f: com.fasterxml.jackson.databind.JsonNode, kind: String): DataFile = {
    val file = DataFile(Json.int(f, "bucket"), relativePath(Json.str(f, "path")),
      Json.int(f, "schemaId"), Json.long(f, "rows"), Json.long(f, "minKey"), Json.long(f, "maxKey"),
      positiveBytes(f),
      Option(Json.str(f, "eventSchema")).map(DataType.fromJson(_).asInstanceOf[StructType]))
    if (kind == Manifest.DeltaKind && file.eventSchema.isEmpty)
      throw new TableFormatException("eventSchema", s"is missing from delta entry ${file.path}")
    if (kind == Manifest.DeltaKind && file.bucket < 0)
      throw new TableFormatException("bucket", s"is ${file.bucket} on delta entry ${file.path}",
        "fold the table with the build that wrote it, or ")
    file
  }

  private[lake] def positiveBytes(n: com.fasterxml.jackson.databind.JsonNode): Long = {
    val b = Json.long(n, "bytes")
    if (b <= 0L) throw new TableFormatException("bytes", s"is $b, not a recorded size")
    b
  }

  private[lake] def relativePath(p: String): String = {
    if (p == null || java.nio.file.Paths.get(p).isAbsolute)
      throw new TableFormatException("path", s"is $p, not relative to the table root")
    p
  }

  /** Parse a snapshot pointer. Refuses inline file entries (the pointer
    * shape before segmented manifests) and missing fields; the empty inline
    * lists an older build wrote for a table without files still read, and
    * an older build's `flatHist` field is ignored. */
  def fromJson(s: String): Snapshot = {
    val n = Json.parse(s)
    // an empty or torn file is an IO error (skipped as torn), not a shape
    if (n == null || !n.isObject) throw new java.io.IOException(s"not a snapshot object: ${s.take(40)}")
    Seq("files", "deltaFiles").foreach { k =>
      if (Json.arr(n, k).nonEmpty) throw new TableFormatException(k, "holds inline file entries")
    }
    Snapshot(
      version = Json.long(n, "version"),
      parentVersion = Json.long(n, "parentVersion"),
      schemaId = Json.int(n, "schemaId"),
      numBuckets = Json.int(n, "numBuckets"),
      files = Seq.empty,
      manifests = Json.arr(n, "manifestList").map(Manifest.refFromJson),
      fence = Json.objFields(n, "fence").map { case (k, v) => k.toInt -> v.asLong() }.toMap,
      metrics = Json.objFields(n, "metrics").map { case (k, v) => k -> v.asLong() }.toMap,
      committedBatchId = Json.long(n, "committedBatchId"),
      schemas = Json.arr(n, "schemas").map(TableSchema.fromJsonNode),
      tsMillis = Json.long(n, "tsMillis"),
      ddlSeq = Json.long(n, "ddlSeq"),
      maxSeq = Json.long(n, "maxSeq"),
      targetFileRows = Json.long(n, "targetFileRows"))
  }
}
