package graft.ingest

import graft.lake.{DataFile, ImageBinding, LakeTable, MorRead}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Merge-on-read orchestration (the fold half; appends go through
  * [[MergeApply.appendDelta]], reads through [[graft.lake.MorRead]], and
  * every data file a fold writes — rewritten base files, per-bucket
  * compacted deltas — through `LakeTable.writeFiles`).
  *
  * `fold` compacts the accumulated delta EVENT files into the base through
  * the ordinary COW merge — the same battle-tested path every batch uses —
  * and drops the folded delta files in the SAME atomic commit. After a full
  * fold the table is a pure copy-on-write table again: file-pruned reads,
  * compact and rebucket all apply. This is the MOR contract at scale:
  * streaming writes cost O(batch); the deferred resolution cost is bounded
  * by how often fold runs (Hudi-MOR compaction cadence analog).
  *
  * '''Partial (file-group) folds''' (`minEventsPerBucket > 0`) are the
  * 100 TB shape: a uniformly-scattered backlog touches ~every base file, so
  * an unconditional fold is a full-table rewrite — the one O(table)
  * operation a cadence-triggered fold must never be. Instead, only buckets
  * whose backlog has reached `minEventsPerBucket` events fold (their base
  * rewrite is then amortized over a worthwhile batch of keys — Hudi's
  * file-group compaction-scheduling shape). The delta log is
  * bucket-localized: every delta file carries its bucket in the manifest
  * (appends and compactions alike), so scheduling reads the backlog per
  * bucket straight off the manifest, no scan, and a fold of bucket set S
  * reads ONLY the files labeled with S — per-tick cost is O(selected
  * buckets), never O(total backlog). The files of other buckets stay as
  * they are.
  *
  * Label safety: labels are written by `LakeTable.writeFiles` from the rows
  * themselves, and guarded where they are trusted. A bucket-pruned read and
  * a partial fold both route every delta winner they read through
  * [[graft.lake.MorRead.routedInto]]: a winner outside the labeled buckets
  * fails the query or the fold, never silently drops or serves stale rows.
  * Labels can only go stale through a rebucket, which refuses to run while
  * delta files exist ([[graft.lake.LakeTable]] guards it) and whose race
  * with an append re-stages the append's files under the new bucket count
  * ([[MergeApply.commitDelta]]).
  */
object Mor {

  final case class FoldResult(
      deltaFilesFolded: Int, eventsFolded: Long,
      /** buckets whose base files were rewritten; -1 = unconditional fold. */
      bucketsFolded: Int = -1,
      /** delta rows a partial fold left in the delta log. */
      eventsDeferred: Long = 0L)

  /** When no bucket reaches the partial-fold threshold, a fold tick still
    * compacts the delta LOG (winners-only rewrite, no base rewrite) once
    * some bucket holds this many delta files: every bucket split across
    * more than one file becomes one file — bounding the files a keyed read
    * opens between real folds without paying any O(base) work. */
  val CompactDeltasMinFiles = 16

  /** Fold delta files into the base. Safe beside a live MOR tail: a
    * concurrent append between our read and commit just wins the version
    * race — merge's optimistic retry re-runs against the refreshed snapshot,
    * and deltas appended AFTER our read survive in the manifest (only the
    * paths we read are dropped).
    *
    * Fold is MOR's RESOLVE point, so the cross-batch DDL hold-back happens
    * here (appends are schema-agnostic and never hold back): winners whose
    * image fields the current schema cannot resolve are persisted to
    * `_pending` BEFORE their delta files are dropped, and re-apply through
    * `Ingest.drainPending` once the missing DDL lands.
    *
    * @param minEventsPerBucket 0 = unconditional full fold (every winner
    *        merges into base — required before compact/rebucket and for
    *        final convergence); > 0 = partial fold, see class doc.
    */
  def fold(table: LakeTable, minEventsPerBucket: Long = 0L): FoldResult = {
    val snap = table.refresh()
    if (snap.deltaFiles.isEmpty) return FoldResult(0, 0L)
    if (minEventsPerBucket <= 0L) {
      // One materialization of the winner aggregation: the merge below reads
      // `winners` at least twice (hold-back probe + the merge job itself),
      // and re-running the delta scan + LWW aggregate per consumer doubles
      // the fold's IO. Winner cardinality is per-key (not per-event) —
      // bounded by the backlog's distinct keys.
      val winners = MorRead.deltaWinners(table, snap.deltaFiles, snap.numBuckets)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try foldFull(table, winners, ImageBinding.imageFields(winners),
        snap.deltaFiles.map(_.path).toSet)
      finally { winners.unpersist(blocking = false); () }
    } else foldPartial(table, snap, minEventsPerBucket)
  }

  /** Partial fold: schedule by per-bucket backlog off the manifest, fold
    * only dense buckets; with none, compact the delta log. See class doc. */
  private def foldPartial(table: LakeTable, snap: graft.lake.Snapshot,
      minEventsPerBucket: Long): FoldResult = {
    def rowsOf(fs: Iterable[DataFile]): Long = fs.iterator.map(_.rows).sum
    val byBucket = snap.deltaFiles.groupBy(_.bucket)
    val sel = byBucket.collect { case (b, fs) if rowsOf(fs) >= minEventsPerBucket => b }.toSet
    if (sel.isEmpty) {
      // nothing dense enough to be worth a base rewrite: bound read
      // amplification by merging every bucket split across >1 file into one
      // file once some bucket has accumulated the threshold. Single-file
      // buckets stay untouched, so compaction cost is O(fragmented
      // buckets' backlog), never O(total backlog).
      if (byBucket.valuesIterator.forall(_.size < CompactDeltasMinFiles))
        FoldResult(0, 0L, bucketsFolded = 0, eventsDeferred = snap.deltaRows)
      else {
        val toCompact = byBucket.valuesIterator.filter(_.size > 1).flatten.toSeq
        compactDeltaLog(table, MorRead.deltaWinners(table, toCompact, snap.numBuckets),
          toCompact.map(_.path).toSet, keptRows = snap.deltaRows - rowsOf(toCompact))
      }
    } else {
      // ---- file-group fold: read ONLY the selected buckets' files; every
      // winner must route into the selection (honest labels) ----
      val foldRead = snap.deltaFiles.filter(f => sel.contains(f.bucket))
      val winners = MorRead.routedInto(
        MorRead.deltaWinners(table, foldRead, snap.numBuckets), sel, snap.numBuckets)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val (resolvable, heldN) =
          Ingest.holdBack(table, winners, ImageBinding.imageFields(winners), -1L, 0)
        val extra = Map("morFolds" -> 1L, "morPartialFolds" -> 1L) ++
          (if (heldN > 0) Map("pendingHeldBack" -> heldN) else Map.empty)
        val r = MergeApply.merge(table, resolvable, Map.empty,
          extraMetrics = extra,
          alsoReplacePaths = foldRead.map(_.path).toSet)
        FoldResult(foldRead.size, r.eventsApplied,
          bucketsFolded = sel.size, eventsDeferred = snap.deltaRows - rowsOf(foldRead))
      } finally { winners.unpersist(blocking = false); () }
    }
  }

  /** Unconditional fold — every winner merges into base. */
  private def foldFull(table: LakeTable, winners: DataFrame,
      imageFields: Set[String], deltaPaths: Set[String]): FoldResult = {
    // Empty-base fast selection (initial bulk load through MOR appends):
    // there are no base files to select against, so the selection scan would
    // only re-derive stats the delta manifests already carry — rows (an
    // upper bound on winners: hint only, it feeds the broadcast gate which
    // is moot with zero base files) and bytes — plus the bucket set, whose
    // sole use is sizing the write (capped by shuffle.partitions anyway).
    val snap = table.snapshot
    val emptyBaseSel =
      if (snap.files.nonEmpty) None
      else Some(MergeApply.FileSelection(Seq.empty,
        (0 until table.numBuckets).toSet, snap.deltaRows,
        snap.deltaFiles.iterator.map(_.bytes).sum))
    val (resolvable, heldN) = Ingest.holdBack(table, winners, imageFields, -1L, 0)
    val extra = Map("morFolds" -> 1L) ++
      (if (heldN > 0) Map("pendingHeldBack" -> heldN) else Map.empty)
    if (heldN > 0 && resolvable.isEmpty) {
      // every winner held back (schema fully behind): still drop the folded
      // delta files atomically — their rows are durably in _pending now
      graft.lake.LakeTable.withCommitRetry(table)(
        table.commit(deltaPaths, Seq.empty, Map.empty, extra))
      return FoldResult(deltaPaths.size, 0L)
    }
    val r = MergeApply.merge(table, resolvable, Map.empty,
      extraMetrics = extra,
      selection = emptyBaseSel,
      alsoReplacePaths = deltaPaths)
    FoldResult(deltaPaths.size, r.eventsApplied)
  }

  /** Winners-only rewrite of (part of) the delta log (no base rewrite): the
    * files of fragmented buckets become one compacted file per bucket. Read-
    * and fold-equivalent by construction — LWW resolution over {winners} equals
    * LWW over the raw events they were reduced from, and events in files
    * kept out of (or appended concurrently with) the compaction keep
    * competing unchanged (max over a union commutes with partial maxima). */
  private def compactDeltaLog(table: LakeTable, winners: DataFrame,
      deltaPaths: Set[String], keptRows: Long): FoldResult = {
    val (files, rows) = writeDeltaCompact(table, winners)
    graft.lake.LakeTable.withCommitRetry(table)(
      table.commit(deltaPaths, Seq.empty, Map.empty,
        Map("deltaCompactions" -> 1L), newDeltaFiles = files))
    FoldResult(0, 0L, bucketsFolded = 0, eventsDeferred = rows + keptRows)
  }

  /** Write a winners DataFrame as PER-BUCKET compacted delta files
    * (`_bucket=N` dirs through `LakeTable.writeFiles`; routed to one task
    * per bucket group, so each bucket lands in one file) with bucket labels
    * in their manifest entries. Routing is affordable HERE because
    * compaction runs on the fold cadence, not per micro-batch: an append
    * writes unrouted, one file per bucket per write task, and this is what
    * merges those files back to one per bucket. Orphaned by a lost commit
    * race like any commit dir (swept by expireSnapshots past the grace
    * window). */
  private def writeDeltaCompact(table: LakeTable, winners: DataFrame): (Seq[DataFile], Long) = {
    val files = table.writeFiles(
      table.bucketRows(winners, base = false, route = Some(table.numBuckets)), base = false)
    (files, files.iterator.map(_.rows).sum)
  }
}

/** ASYNC cadence folds: compaction must never block ingest (Hudi async-
  * compaction shape) — a micro-batch SUBMITS its cadence fold and returns to
  * consuming; the fold runs on a per-table daemon thread against its OWN
  * table handle (the commit hard-link CAS + optimistic merge retry make a
  * concurrent fold/append race safe by construction: a fold drops only the
  * files it read). A tick that finds the previous fold
  * still running SKIPS — the backlog simply rides to the next tick, so fold
  * pressure self-regulates instead of back-pressuring the source.
  *
  * Failure contract: an async fold failure is rethrown on the NEXT submit
  * (failing the stream at a batch boundary) or at [[drain]] (stream end) —
  * never swallowed. */
object MorFolds {
  private final class Worker {
    val busy = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var thread: Thread = _
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
  }
  private val workers = new java.util.concurrent.ConcurrentHashMap[String, Worker]()

  /** Registry key: the NORMALIZED absolute table path — '/t' vs '/t/' vs a
    * relative spelling must all hit the same Worker, or the one-in-flight-
    * fold-per-table skip is defeated and concurrent cadence folds race. */
  private def normKey(dir: String): String =
    java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString

  /** Submit a cadence fold; returns false when skipped (previous fold still
    * in flight). Rethrows a previous async failure instead of submitting. */
  def submit(spark: org.apache.spark.sql.SparkSession, tableDir: String,
      minEventsPerBucket: Long): Boolean =
    submitTask(tableDir) {
      Mor.fold(LakeTable.load(spark, tableDir), minEventsPerBucket); ()
    }

  /** Worker mechanics behind [[submit]], keyed by table dir (factored out so
    * the skip/failure contract is unit-testable without a Spark fold). */
  private[graft] def submitTask(rawKey: String)(task: => Unit): Boolean = {
    val key = normKey(rawKey)
    // claim INSIDE the per-key map operation: the busy CAS must be atomic
    // with registry membership, or a drain racing this submit can observe
    // busy=false, remove the entry, and orphan the worker this call just
    // claimed (two concurrent folds on one table; its failure never
    // rethrown). drain's conditional remove runs under the same lock.
    var claimed: Worker = null
    workers.compute(key, (_, existing) => {
      val w = if (existing == null) new Worker else existing
      val prior = w.failure.getAndSet(null)
      if (prior != null) throw prior // mapping left unchanged
      if (w.busy.compareAndSet(false, true)) claimed = w
      w
    })
    if (claimed == null) return false
    val w = claimed
    val t = new Thread(() => {
      try task
      catch { case e: Throwable => w.failure.set(e) }
      finally w.busy.set(false)
    }, s"graft-mor-fold-${java.nio.file.Paths.get(key).getFileName}")
    t.setDaemon(true)
    w.thread = t
    t.start()
    true
  }

  /** Wait for any in-flight fold of `tableDir`; rethrows its failure.
    * Callers run this at stream end, BEFORE any final convergence fold. */
  def drain(tableDir: String): Unit = {
    val key = normKey(tableDir)
    val w = workers.get(key)
    if (w == null) return
    val t = w.thread
    if (t != null) t.join()
    // unregister after a clean join so a long-lived process (benches create a
    // fresh temp table per run) doesn't grow the map unboundedly. The busy
    // check and the remove run atomically under the key's map lock — the
    // same lock submitTask claims under — so a racing re-submit either
    // claimed first (busy=true, entry kept) or blocks until the remove and
    // creates a fresh worker
    workers.compute(key, (_, cur) =>
      if ((cur eq w) && !w.busy.get()) null else cur)
    val f = w.failure.getAndSet(null)
    if (f != null) throw f
  }
}
