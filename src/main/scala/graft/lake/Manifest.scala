package graft.lake

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** One immutable manifest file: a group of [[DataFile]] entries stored as
  * JSONL under `<table>/manifests/mf-<uuid>.jsonl`, referenced from the
  * snapshot by a [[ManifestRef]] pointer (Iceberg manifest-list analog).
  *
  * Why: snapshot JSON that inlines every DataFile is rewritten whole on every
  * commit and parsed whole on every refresh — O(table files) driver work per
  * commit, ~10^2 MB of JSON at 10^6 files. With segmentation a commit writes
  * (a) one new manifest for its new files, (b) a rewrite of just the
  * manifests it removed entries from, and (c) a small snapshot pointer;
  * untouched manifests are REUSED by path across commits, so commit cost and
  * snapshot bytes are O(changed files). A fence-only commit (the streaming
  * hot path) touches no manifest at all.
  *
  * Manifests are immutable once written, so a process-wide cache keyed by
  * absolute path makes refresh read only the manifests it has not seen —
  * O(changed) IO per refresh as well. JSONL (one DataFile per line) keeps
  * them readable as a DataFrame (`spark.read.schema(...).json`) for
  * distributed planning over very large manifests ([[graft.ingest.MergeApply]]).
  */
final case class ManifestRef(
    path: String, kind: String, fileCount: Int, rows: Long,
    minBucket: Int, maxBucket: Int, minKey: Long, maxKey: Long,
    /** exact byte length of the manifest file at write time — the lazy-
      * hydration integrity check (one stat, no read): a truncated/torn
      * manifest is rejected at LOAD so the torn-crash fallback can skip the
      * pointer, instead of surfacing as a parse error deep inside the first
      * query that forces entries. Always positive. */
    bytes: Long) {

  def toJson: String = Json.obj(
    "path" -> Json.quote(path),
    "kind" -> Json.quote(kind),
    "fileCount" -> fileCount.toString,
    "rows" -> rows.toString,
    "minBucket" -> minBucket.toString,
    "maxBucket" -> maxBucket.toString,
    "minKey" -> minKey.toString,
    "maxKey" -> maxKey.toString,
    "bytes" -> bytes.toString)
}

object Manifest {

  val BaseKind = "base"
  val DeltaKind = "delta"

  /** Count of manifest files actually read from disk (cache misses) —
    * observability for the lazy-hydration contract: a fresh `load`, a
    * fence-only commit and a `/report` must read ZERO manifest files
    * (asserted in LakeTableSpec). */
  val diskReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Deferred manifest hydration: a Seq[DataFile] whose entries are read
    * only on first ELEMENT access. `length`/`size`/`isEmpty` answer from the
    * refs' recorded stats without any IO — the hot-path predicates
    * (`snap.files.isEmpty`, manifest-size strategy gates) stay free. The
    * metadata paths that never touch entries (load, fence-only commit,
    * pointer serialization, /report) therefore do zero manifest IO, and
    * driver RAM holds entries only for snapshots something actually plans
    * over (What's-wrong #4, round 4). */
  final class LazyEntries(tableDir: String, refs: Seq[ManifestRef])
      extends scala.collection.immutable.Seq[DataFile] with Serializable {
    @transient private lazy val entries: Seq[DataFile] =
      refs.flatMap(r => read(tableDir, r))
    private val total: Int = refs.iterator.map(_.fileCount).sum
    def apply(i: Int): DataFile = entries(i)
    override def length: Int = total
    override def knownSize: Int = total
    override def isEmpty: Boolean = total == 0
    def iterator: Iterator[DataFile] = if (total == 0) Iterator.empty else entries.iterator
  }

  /** Bound on manifest count per kind: commits that push past it merge the
    * smallest manifests back together (amortized O(table)/rare, like
    * Iceberg's manifest merging), so pointer size and per-refresh manifest
    * opens stay bounded while steady-state commits stay O(changed files). */
  val MaxManifests = 64

  /** A pointer's manifest reference; refuses a ref without a recorded size
    * or with an absolute path (shapes of older builds). */
  def refFromJson(n: com.fasterxml.jackson.databind.JsonNode): ManifestRef =
    ManifestRef(Snapshot.relativePath(Json.str(n, "path")), Json.str(n, "kind"),
      Json.int(n, "fileCount"), Json.long(n, "rows"), Json.int(n, "minBucket"),
      Json.int(n, "maxBucket"), Json.long(n, "minKey"), Json.long(n, "maxKey"),
      Snapshot.positiveBytes(n))

  private def resolve(tableDir: String, relPath: String): Path =
    Paths.get(tableDir).resolve(relPath).toAbsolutePath.normalize

  // ------------------------------------------------------------------ cache
  // Manifests are immutable and uuid-named: absolute path is a sound cache
  // key forever. Bounded by total cached ENTRIES (the memory that matters),
  // evicting in insertion order — refresh patterns re-read the same live set,
  // so plain FIFO over a few times the live size behaves like LRU here.
  private val MaxCachedEntries = 4L << 20
  private val cache = new java.util.LinkedHashMap[String, Seq[DataFile]]()
  private var cachedEntries = 0L

  private def cacheGet(key: String): Option[Seq[DataFile]] =
    cache.synchronized(Option(cache.get(key)))

  private def cachePut(key: String, v: Seq[DataFile]): Unit = cache.synchronized {
    if (cache.containsKey(key)) return
    cache.put(key, v)
    cachedEntries += v.size
    val it = cache.entrySet().iterator()
    while (cachedEntries > MaxCachedEntries && it.hasNext) {
      val e = it.next()
      if (e.getKey != key) { cachedEntries -= e.getValue.size; it.remove() }
    }
  }

  /** Write `entries` as a new immutable manifest under the table, fsynced
    * (a snapshot pointer must never publish a reference to bytes that could
    * vanish in a crash). Returns the pointer entry. */
  def write(tableDir: String, entries: Seq[DataFile], kind: String): ManifestRef = {
    require(entries.nonEmpty, "empty manifests are never written")
    val dir = Paths.get(tableDir, "manifests")
    Files.createDirectories(dir)
    val rel = s"manifests/mf-${java.util.UUID.randomUUID()}.jsonl"
    val sorted = entries.sortBy(f => (f.bucket, f.minKey, f.path))
    val bodyBytes = sorted.map(Snapshot.fileJson).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val p = resolve(tableDir, rel)
    scala.util.Using.resource(java.nio.channels.FileChannel.open(
      p, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)) { ch =>
      ch.write(java.nio.ByteBuffer.wrap(bodyBytes))
      ch.force(true)
    }
    // fsync the DIRECTORY entry too, before any snapshot pointer can
    // reference this manifest: file contents alone are not durable if the
    // dirent is lost in a crash — the pointer would then publish a reference
    // to vanished bytes and the torn-manifest fallback would silently roll
    // the table back a version (round-4 ADVICE)
    LakeTable.fsyncDir(dir)
    val ref = ManifestRef(rel, kind, sorted.size,
      sorted.iterator.map(_.rows).sum,
      sorted.iterator.map(_.bucket).min, sorted.iterator.map(_.bucket).max,
      sorted.iterator.map(_.minKey).min, sorted.iterator.map(_.maxKey).max,
      bytes = bodyBytes.length.toLong)
    cachePut(p.toString, sorted)
    ref
  }

  /** Entries of one manifest — from the process-wide cache when seen before
    * (immutable files make this exact), else one JSONL read, refusing entries
    * in the shapes older builds wrote ([[Snapshot.fileFromJson]]). */
  def read(tableDir: String, ref: ManifestRef): Seq[DataFile] = {
    val p = resolve(tableDir, ref.path)
    cacheGet(p.toString).getOrElse {
      diskReads.incrementAndGet()
      val lines = Files.readAllLines(p)
      val out = new scala.collection.mutable.ArrayBuffer[DataFile](lines.size())
      lines.forEach { l => if (l.nonEmpty) out += Snapshot.fileFromJson(Json.parse(l), ref.kind) }
      val entries = out.toSeq
      cachePut(p.toString, entries)
      entries
    }
  }

  /** Drop the process-wide cache (tests only — so IO assertions measure
    * disk reads a fresh process would do, not cache hits). */
  private[graft] def clearCacheForTest(): Unit = cache.synchronized {
    cache.clear(); cachedEntries = 0L
  }

  /** Absolute paths of a snapshot's manifests of `kind` (the DataFrame-scan
    * planning input for very large tables). */
  def absolutePaths(tableDir: String, snap: Snapshot, kind: String): Seq[String] =
    snap.manifests.filter(_.kind == kind).map(r => resolve(tableDir, r.path).toString)
}
