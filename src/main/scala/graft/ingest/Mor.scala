package graft.ingest

import graft.lake.{DataFile, FlatHistOp, ImageBinding, LakeTable, MorRead}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
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
  * file-group compaction-scheduling shape). The delta log itself is
  * bucket-localized: deferred winners are written as PER-BUCKET compacted
  * delta files (`_bucket=N` layout, labels in the manifest), so a later
  * partial fold of bucket set S reads ONLY the flat append files plus the
  * labeled files of S — per-tick cost is O(recent appends + selected
  * buckets), never O(total backlog) — and the scheduling backlog for
  * labeled files comes straight off the manifest, no scan.
  *
  * Label safety: bucket labels are PRUNING HINTS, not a correctness
  * dependency. A fold of S replaces exactly the files it read, folds their
  * `bucketExpr ∈ S` rows and re-defers the rest to the remainder write, so
  * a mislabeled row is either rewritten or left live in a kept file (where
  * LWW keeps it competing at read/fold time) — never dropped. Labels can
  * only go stale through a rebucket, which refuses to run while delta files
  * exist ([[graft.lake.LakeTable]] guards it).
  */
object Mor {

  final case class FoldResult(
      deltaFilesFolded: Int, eventsFolded: Long,
      /** buckets whose base files were rewritten; -1 = unconditional fold. */
      bucketsFolded: Int = -1,
      /** winner rows deferred to compacted per-bucket deltas (partial). */
      eventsDeferred: Long = 0L)

  /** When no bucket reaches the partial-fold threshold, a fold tick still
    * compacts the fragmented part of the delta LOG (flat append files plus
    * any bucket split across >1 labeled file — winners-only rewrite, no
    * base rewrite) once this many such files have accumulated — bounding
    * read amplification between real folds without paying any O(base) work. */
  val CompactDeltasMinFiles = 16

  /** Fold delta files into the base. Safe beside a live MOR tail: a
    * concurrent append between our read and commit just wins the version
    * race — merge's optimistic retry re-runs against the refreshed snapshot,
    * and deltas appended AFTER our read survive in the manifest (only the
    * paths we read are dropped; deferred winners are re-added as compacted
    * per-bucket delta files in the same commit).
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
        snap.deltaFiles.map(_.path).toSet,
        FlatHistOp.Sub(snap.flatDeltaHist.getOrElse(Map.empty)))
      finally { winners.unpersist(blocking = false); () }
    } else foldPartial(table, snap, minEventsPerBucket)
  }

  /** Partial fold: schedule by per-bucket backlog, fold only dense buckets,
    * defer the rest as per-bucket compacted delta files. See class doc. */
  private def foldPartial(table: LakeTable, snap: graft.lake.Snapshot,
      minEventsPerBucket: Long): FoldResult = {
    val labeled = snap.deltaFiles.filter(_.bucket >= 0)
    val flat = snap.deltaFiles.filter(_.bucket < 0)

    // ---- scheduling: ZERO-scan when metadata suffices — labeled backlog
    // off the manifest (bucket, rows), flat backlog off the snapshot's
    // transactional histogram (Snapshot.flatDeltaHist, maintained by the
    // append job's observation pass). Histogram unknown (numBuckets >
    // HistMaxBuckets, an append that skipped or lost its observation, or a
    // rebucket racing an append) ⇒ ONE narrow scan of the flat files
    // (repo+path only — column pruning keeps contents out). ----
    val flatCounts: Map[Int, Long] =
      if (flat.isEmpty) Map.empty
      else snap.flatDeltaHist.getOrElse(MorRead.deltaEvents(table, flat, snap.numBuckets)
        .groupBy(table.bucketExpr(col("repo"), col("path")).as("_b"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
    val labeledCounts: Map[Int, Long] =
      labeled.groupBy(_.bucket).view.mapValues(_.map(_.rows).sum).toMap
    val backlog: Map[Int, Long] =
      (flatCounts.keySet ++ labeledCounts.keySet).iterator
        .map(b => b -> (flatCounts.getOrElse(b, 0L) + labeledCounts.getOrElse(b, 0L)))
        .toMap

    val sel = backlog.filter(_._2 >= minEventsPerBucket).keySet
    if (sel.isEmpty) {
      // nothing dense enough to be worth a base rewrite: bound read
      // amplification by compacting the FRAGMENTED part of the delta log —
      // flat append files plus every labeled file of a bucket that is either
      // split across >1 file or receiving new flat rows (absorbing those
      // singletons keeps the invariant of ≤1 compacted file per bucket, so
      // the delta log never exceeds numBuckets + recent-append files).
      // Labeled singletons of quiet buckets stay untouched — the whole point
      // of the per-bucket layout — so compaction cost is O(flat + touched
      // buckets' backlog), never O(total backlog).
      val touched = flatCounts.keySet
      val fragmented = labeled.groupBy(_.bucket).iterator
        .filter { case (b, fs) => fs.size > 1 || touched.contains(b) }
        .flatMap(_._2).toSeq
      val toCompact = flat ++ fragmented
      if (toCompact.size < CompactDeltasMinFiles)
        FoldResult(0, 0L, bucketsFolded = 0, eventsDeferred = snap.deltaRows)
      else {
        val winners = MorRead.deltaWinners(table, toCompact, snap.numBuckets)
        compactDeltaLog(table, winners, toCompact.map(_.path).toSet,
          keptRows = labeledCounts.values.sum - fragmented.iterator.map(_.rows).sum,
          FlatHistOp.Sub(flatCounts))
      }
    } else {
      // ---- file-group fold: read ONLY flat + selected buckets' files ----
      val foldRead = flat ++ labeled.filter(f => sel.contains(f.bucket))
      val keptRows = labeled.iterator
        .filterNot(f => sel.contains(f.bucket)).map(_.rows).sum
      val winners = MorRead.deltaWinners(table, foldRead, snap.numBuckets)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val bucketOf = table.bucketExpr(col("repo"), col("path"))
        val inSel = bucketOf.isin(sel.toSeq: _*)
        // remainder: winners of unselected buckets seen in the files we are
        // about to drop (from flat appends; with honest labels, never from
        // labeled files). Empty exactly when every backlogged bucket fell in
        // the selection — then this IS a full fold of the files read.
        val (remFiles, remRows) =
          if ((backlog.keySet -- sel).isEmpty) (Seq.empty[DataFile], 0L)
          else writeDeltaCompact(table, winners.filter(!inSel))
        val (resolvable, heldN) =
          Ingest.holdBack(table, winners.filter(inSel), ImageBinding.imageFields(winners), -1L, 0)
        val extra = Map("morFolds" -> 1L, "morPartialFolds" -> 1L) ++
          (if (heldN > 0) Map("pendingHeldBack" -> heldN) else Map.empty)
        val r = MergeApply.merge(table, resolvable, Map.empty,
          extraMetrics = extra,
          alsoReplacePaths = foldRead.map(_.path).toSet,
          alsoNewDeltaFiles = remFiles,
          flatHistOp = FlatHistOp.Sub(flatCounts))
        FoldResult(foldRead.size, r.eventsApplied,
          bucketsFolded = sel.size, eventsDeferred = remRows + keptRows)
      } finally { winners.unpersist(blocking = false); () }
    }
  }

  /** Unconditional fold — every winner merges into base. */
  private def foldFull(table: LakeTable, winners: DataFrame,
      imageFields: Set[String], deltaPaths: Set[String],
      flatHistOp: FlatHistOp): FoldResult = {
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
        table.commit(deltaPaths, Seq.empty, Map.empty, extra, flatHistOp = flatHistOp))
      return FoldResult(deltaPaths.size, 0L)
    }
    val r = MergeApply.merge(table, resolvable, Map.empty,
      extraMetrics = extra,
      selection = emptyBaseSel,
      alsoReplacePaths = deltaPaths,
      flatHistOp = flatHistOp)
    FoldResult(deltaPaths.size, r.eventsApplied)
  }

  /** Winners-only rewrite of (part of) the delta log (no base rewrite): N
    * fragmented delta files become per-bucket compacted files. Read- and
    * fold-equivalent by construction — LWW resolution over {winners} equals
    * LWW over the raw events they were reduced from, and events in files
    * kept out of (or appended concurrently with) the compaction keep
    * competing unchanged (max over a union commutes with partial maxima). */
  private def compactDeltaLog(table: LakeTable, winners: DataFrame,
      deltaPaths: Set[String], keptRows: Long,
      flatHistOp: FlatHistOp): FoldResult = {
    val (files, rows) = writeDeltaCompact(table, winners)
    graft.lake.LakeTable.withCommitRetry(table)(
      table.commit(deltaPaths, Seq.empty, Map.empty,
        Map("deltaCompactions" -> 1L), newDeltaFiles = files,
        flatHistOp = flatHistOp))
    FoldResult(0, 0L, bucketsFolded = 0, eventsDeferred = rows + keptRows)
  }

  /** Write a winners DataFrame as PER-BUCKET compacted delta files
    * (`_bucket=N` dirs through `LakeTable.writeFiles`; routed to one task
    * per bucket group, so each bucket lands in one file) with bucket labels
    * in their manifest entries. The labels
    * are what buy partial folds their file-group pruning: the next fold of
    * bucket set S reads only `_bucket∈S` files plus recent flat appends,
    * and the scheduling backlog for labeled files comes from the manifest.
    * Per-bucket fan-out is affordable HERE because compaction runs on the
    * fold cadence, not per micro-batch (appends stay flat — that fan-out
    * was the dominant per-batch fixed cost the round-4 flat layout removed).
    * Orphaned by a lost commit race like any commit dir (swept by
    * expireSnapshots past the grace window). */
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
  * concurrent fold/append race safe by construction, and
  * [[graft.lake.FlatHistOp]]'s relative Add/Sub keeps the scheduling
  * histogram exact across the race). A tick that finds the previous fold
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
