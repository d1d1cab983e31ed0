package graft.ingest

import graft.functions.PartitionLongAgg
import graft.lake.{ImageBinding, LakeTable, Snapshot}
import graft.model.Ops
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-micro-batch application: the engine's `foreachBatch` body and the
  * batch-replay entry point. Mirrors the reference's event lifecycle
  * (SURVEY §3.1) set-orientedly:
  *
  *   fence-skip → validate (dead-letter side output) → filter chain →
  *   [split at DDL barriers] → dedup (last writer per key) → MERGE apply →
  *   atomic snapshot commit (data + fence + metrics together) → lineage.
  *
  * DDL ordering: the reference lets DDL overtake buffered row events
  * (/root/reference/cobra/handler.go:103-129 — a hazard, SURVEY §4.3.3).
  * Here DDL events stay in-line in the ordered log; a batch is split at each
  * DDL's `seq`, rows below it apply under the old schema, then the schema
  * evolves (a schema-only snapshot commit), then the rest applies.
  *
  * One flow serves both write modes: stats → dead letters → segments (split
  * only at barrier DDLs) → writer per segment (COW `MergeApply.merge`, or the
  * MOR delta commit) → one finish step (metrics, lineage, `_pending` drain).
  *
  * Job economy (scale note): a batch runs ONE stats aggregate — counts, the
  * fence and per-partition event counts, the DDL list and, on a table with
  * files, the file selection — and ONE dedup→merge→write pipeline, plus tiny
  * driver-side footer reads and a JSONL lineage append. Counted in Spark
  * jobs (AQE runs each exchange's map stage as its own job; pinned by
  * ApplyPipelineSpec): 5 for a fresh-table batch with or without commuting
  * DDLs (stats 2, insert-only write 3), 6 for a small batch merged into a
  * table with files, and 2 for a merge-on-read micro-batch, whose stats ride
  * the delta write as an Observation. Barrier DDLs add a selection pass and
  * a merge per segment. No per-event driver work, no collect of event data.
  */
object Ingest {

  final case class IngestConfig(
      filter: FilterChain = FilterChain.passAll,
      salt: Int = 1,
      /** Merge-on-read mode (Hudi-MOR / Iceberg-v2 analog): row batches are
        * APPENDED as bucketed delta event files (O(batch) write cost) instead
        * of copy-on-write merged (O(touched files)); reads resolve deltas by
        * LWW at query time and `Mor.fold` compacts them back into base files.
        * The streaming-throughput mode for high-frequency micro-batches whose
        * keys scatter across the whole table. Exactly-once, fences, DDL
        * barriers, dead letters and lineage are identical to COW mode. */
      morMode: Boolean = false,
      /** In MOR mode, fold delta files into base every N micro-batches
        * (0 = never; fold manually via `Mor.fold`/CLI `fold`). The fold
        * cadence bounds read amplification AND delta-file count — the MOR
        * compaction-scheduling knob (Hudi's compaction trigger analog).
        * Folding is concurrency-safe beside the appends (optimistic retry;
        * late appends survive by path-level replacement). */
      morFoldEvery: Int = 0,
      /** Partial-fold threshold forwarded to [[Mor.fold]] on each cadence
        * tick: > 0 folds only buckets whose backlog reached this many
        * events (cost O(touched buckets), the 100 TB shape — a scattered
        * backlog no longer triggers a full-table rewrite mid-stream) and
        * compacts the rest of the delta log; 0 keeps cadence folds
        * unconditional. */
      morFoldMinEventsPerBucket: Long = 0L,
      /** Run cadence folds ASYNC on a per-table daemon thread
        * ([[MorFolds]]) so compaction overlaps ingest instead of blocking
        * the micro-batch loop (Hudi async-compaction shape; safe by the
        * same optimistic-concurrency machinery that lets a manual fold run
        * beside a live tail). A tick whose previous fold is still running
        * skips — backlog rides to the next tick. false = fold inline in
        * the batch (strict backlog bound per tick, at ingest-latency
        * cost). */
      morFoldAsync: Boolean = true,
      /** In MOR mode, LWW-dedup each micro-batch before appending it (the
        * default). Semantically optional — read resolution and fold ALREADY
        * dedup across all delta files with the same LastWriterAgg — so this
        * is purely a cost trade: dedup pays one shuffle per batch to shrink
        * the written delta volume by the batch's key-duplication ratio; raw
        * appends (false — the Hudi log-file shape) make a micro-batch one
        * shuffle-free scan+filter+write job but write every event. Measured
        * on the 2M-event bench log (≈7× in-batch duplication): dedup wins;
        * a low-duplication source (unique keys per batch) should turn this
        * off and skip the shuffle. */
      morDedupPerBatch: Boolean = true,
      /** Maintain the transactional per-bucket flat-delta histogram on each
        * MOR append (numBuckets conditional sums riding the write job's
        * Observation). The histogram buys zero-job fold scheduling and
        * bucket-pruned reads on a LIVE tail; a bounded catch-up replay
        * (AvailableNow) schedules no cadence folds and ends in a full fold
        * that self-heals the histogram to exact-empty, so streaming entry
        * points disable it there (measured ~15% of bulk-stream wall at 64
        * buckets). Off ⇒ commits poison the histogram (Add(None)) and
        * schedulers fall back to one narrow scan. */
      morBatchHistogram: Boolean = true,
      /** dedup via explicit two-phase salted aggregation instead of relying
        * on max_by partial aggregation */
      saltedDedup: Int = 0,
      /** Whether the source guarantees per-partition offset-ordered delivery
        * across micro-batches (a live binlog/Kafka tail, or a replay of a
        * fully-applied log). Only then may the offset fence FILTER rows —
        * with an unordered source (e.g. a bulk-written file-stream dir, where
        * mtime order is arbitrary) a later-offset batch would advance the
        * fence past events that never arrived, and filtering would lose them.
        * When false (safe default) the fence is still recorded as a
        * high-water mark and re-delivered events are neutralized by
        * last-writer-wins + tombstones instead (convergence is
        * order-independent; see ConvergencePropertySpec). */
      orderedDelivery: Boolean = false,
      /** When set, every applied micro-batch also maintains a persisted
        * near-duplicate signature store at this directory
        * ([[graft.operators.SigStore.maintainFromEvents]]): the LWW winner
        * of each content-carrying key is re-signed (MinHash bands + SimHash
        * sketch), deletes tombstone the doc. Incoming batches can then be
        * near-dup-checked against the whole corpus in O(batch) via
        * [[graft.operators.SigStore.incrementalPairs]] — no corpus rescan.
        * Store writes are append-only and idempotent, so they need no extra
        * exactly-once machinery beyond the stream's own batch retry. */
      sigStoreDir: Option[String] = None,
      /** Signature parameters for [[sigStoreDir]] (bands, rows per band,
        * shard fan-out). Must match across all writers of one store. */
      sigStoreCfg: graft.operators.SigStore.Config = graft.operators.SigStore.Config())

  object IngestConfig {
    /** Default config for STREAMING entry points (`run`/`tail`/`tailrules`):
      * merge-on-read appends with an async partial-fold cadence — the shape
      * that sustains high-frequency micro-batches whose keys scatter across
      * the table (COW streaming pays an O(touched files) rewrite per batch,
      * measured ~8× slower on the bench stream). Batch `replay` keeps the
      * plain COW default (one big merge wins there). Opt out per-process
      * with GRAFT_MOR=0. */
    val streamingDefault: IngestConfig = IngestConfig(
      morMode = true, morFoldEvery = 2, morFoldMinEventsPerBucket = 16384L)
  }

  final case class BatchMetrics(
      batchId: Long,
      eventsSeen: Long,
      deadLetters: Long,
      filteredOut: Long,
      skippedByFence: Long,
      eventsApplied: Long,
      tombstonesWritten: Long,
      conflictsLww: Long,
      ddlApplied: Long,
      snapshotVersion: Long)

  val lineageSchema: StructType = StructType(Seq(
    StructField("batchId", LongType),
    StructField("snapshotVersion", LongType),
    StructField("partition", IntegerType),
    StructField("maxOffset", LongType),
    StructField("eventsSeen", LongType),
    StructField("eventsApplied", LongType),
    StructField("tombstones", LongType),
    StructField("conflictsLww", LongType),
    StructField("deadLetters", LongType)))

  // ---------------------------------------------------------------- pending
  // Cross-batch DDL ordering (SURVEY §4.3.3, VERDICT r2 #5): a row event can
  // arrive a micro-batch BEFORE the DDL that defines one of its image columns
  // (partitions of the source are mutually unordered). Silently dropping the
  // field would lose data the day images carry evolved columns — instead the
  // WHOLE row is held back in a durable side store and re-applied once the
  // schema catches up. Holding the whole row (not just the field) matters:
  // a half-applied row could not be re-applied later, because its seq would
  // compare as a duplicate under LWW.
  //
  // Convergence stays exact because application order is immaterial (LWW +
  // tombstones, ConvergencePropertySpec); exactly-once degrades gracefully to
  // at-least-once for held rows (re-application is neutralized as duplicates).

  private def pendingRoot(table: LakeTable): java.nio.file.Path =
    java.nio.file.Paths.get(table.dir, "_pending")

  /** Condition marking a row as NOT applicable under the current schema: a
    * non-null value in an image field the schema cannot resolve. */
  private def holdCondition(unresolved: Set[String]): Column =
    unresolved.toSeq.sorted.map(f => col(s"after.$f").isNotNull)
      .reduceOption(_ || _).getOrElse(lit(false))

  /** Split `seg` into (apply-now, held-back-count); held rows are persisted
    * under `_pending/batch-<id>-seg<k>` (overwritten on a foreachBatch retry —
    * exactly-once for the side store like dead letters). Also the FOLD-time
    * resolve guard for merge-on-read (`Mor.fold`): MOR appends store events
    * schema-agnostically, so unresolved-field hold-back happens exactly once,
    * when deltas fold into base. */
  private[ingest] def holdBack(table: LakeTable, seg: DataFrame, imageFields: Set[String],
      batchId: Long, segIdx: Int): (DataFrame, Long) = {
    val unresolved = ImageBinding.bind(table.snapshot, imageFields)._2
    if (unresolved.isEmpty) return (seg, 0L)
    val cond = holdCondition(unresolved)
    val held = seg.filter(cond)
    val n = held.count()
    if (n == 0L) return (seg, 0L)
    val name =
      if (batchId >= 0) s"batch-$batchId-seg$segIdx"
      else s"adhoc-${java.util.UUID.randomUUID().toString.take(8)}"
    held.write.mode(SaveMode.Overwrite)
      .parquet(pendingRoot(table).resolve(name).toString)
    (seg.filter(!cond), n)
  }

  /** Re-apply pending rows whose image fields the (possibly just-evolved)
    * schema now resolves; consolidate the rest. Crash-ordering: the retained
    * remainder is rewritten FIRST, then the resolvable rows merge, then the
    * drained dirs are deleted — every crash window re-applies rows (converges
    * under LWW) rather than losing them. Returns rows re-applied. */
  def drainPending(table: LakeTable): Long = {
    import java.nio.file.Files
    val root = pendingRoot(table)
    if (!Files.isDirectory(root)) return 0L
    val subdirs = LakeTable.listDir(root).filter(Files.isDirectory(_))
    if (subdirs.isEmpty) return 0L
    val spark = table.spark
    val all = subdirs
      .map(d => spark.read.parquet(d.toString))
      .reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
    val unresolved = ImageBinding.bind(table.snapshot, ImageBinding.imageFields(all))._2
    val cond = holdCondition(unresolved)
    val resolvable = all.filter(!cond)
    val nResolvable = resolvable.count()
    val retained = all.filter(cond)
    val nRetained = retained.count()
    if (nRetained > 0)
      retained.write.mode(SaveMode.Overwrite).parquet(root.resolve(
        s"retained-${java.util.UUID.randomUUID().toString.take(8)}").toString)
    if (nResolvable > 0)
      MergeApply.merge(table, Dedup.lastWriterPerKey(resolvable), Map.empty,
        extraMetrics = Map("pendingDrained" -> nResolvable))
    subdirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    nResolvable
  }

  /** Apply one batch of change events. Idempotent under re-delivery:
    * a batchId at or below the committed one is skipped wholesale (streaming
    * retry), and per-row offsets at or below the fence are skipped (replay
    * from an older checkpoint / at-least-once source).
    */
  def applyBatch(
      table: LakeTable,
      batch: DataFrame,
      batchId: Long = -1L,
      cfg: IngestConfig = IngestConfig()): BatchMetrics = {
    val snap0 = table.refresh()

    if (batchId >= 0 && batchId <= snap0.committedBatchId) {
      // foreachBatch retry of an already-committed batch: exact no-op.
      return idle(batchId, snap0.version)
    }

    // Termination-tick fast path: Trigger.AvailableNow delivers one final
    // batch with ZERO input splits (and restarts can deliver empty catch-up
    // batches). Detectable on the driver without running any job — the
    // physical scan has no partitions — so the full apply pipeline (stats
    // job, write job, footer list) collapses to one fence-only commit that
    // still records the batchId for the exactly-once fence.
    if (batchIsPlanEmpty(batch)) {
      LakeTable.withCommitRetry(table)(table.commit(
        Set.empty, Seq.empty, Map.empty,
        Map("eventsSeen" -> 0L, "batches" -> 1L), batchId))
      return idle(batchId, table.snapshot.version)
    }

    // predicate pieces, built once (pure Columns). try_element_at: a
    // partition absent from the fence map must read as "no fence"
    // (null→-1), not an ANSI MAP_KEY_DOES_NOT_EXIST error
    val fenceCol =
      if (snap0.fence.isEmpty) lit(-1L)
      else coalesce(try_element_at(typedLit(snap0.fence), col("partition")), lit(-1L))
    // row-level fence filtering only under an ordered-delivery contract
    val unfenced = if (cfg.orderedDelivery) col("offset") > fenceCol else lit(true)
    val err = Validate.errorExpr
    val validRow = err.isNull && col("op").isin(Ops.rowOps.toSeq: _*) && cfg.filter.expr
    val isLiveRow = unfenced && validRow
    val isDeadLetter = unfenced && err.isNotNull

    // opt-in signature-store maintenance rides the batch BEFORE the apply
    // (same filter chain as the table; fence filtering is unnecessary —
    // re-delivered old events append below the head seq, which reads drop)
    cfg.sigStoreDir.foreach(d =>
      graft.operators.SigStore.maintainFromEvents(d, batch.filter(validRow), cfg.sigStoreCfg))

    // The batch's statistics: ONE global aggregate (counts, the fence and
    // per-partition event counts, and the — rare, tiny — DDL list). COW
    // runs it as its own job; MOR observes it on the delta write's scan.
    val statAggs = Seq(
      count(lit(1)).as("total"),
      sum(when(unfenced, 1L).otherwise(0L)).as("unfenced"),
      sum(when(isDeadLetter, 1L).otherwise(0L)).as("deadLetters"),
      sum(when(isLiveRow, 1L).otherwise(0L)).as("rows"),
      sum(when(isLiveRow && col("op") === Ops.Delete, 1L).otherwise(0L)).as("deletes"),
      collect_list(when(unfenced && err.isNull && col("op") === Ops.Ddl,
        struct(col("seq"), col("ddl")))).as("ddls"),
      PartitionLongAgg.partitionMax(col("partition"), col("offset")).as("fence"),
      PartitionLongAgg.partitionSum(col("partition"), lit(1L)).as("perPartRows"))
    val imageFields = ImageBinding.imageFields(batch)
    val (stats, write) =
      if (cfg.morMode) morWriter(table, batch, batchId, cfg, statAggs, isLiveRow)
      else cowWriter(table, snap0, batch, batchId, cfg, statAggs, isLiveRow, imageFields)

    if (stats.deadLetters > 0) appendDeadLetters(table, batch.filter(isDeadLetter), batchId)

    // A DDL only needs a BARRIER (batch split before/after it) when it
    // touches a column the row images actually carry — otherwise it
    // commutes with row application: add_column of a fresh column reads
    // null either way; widen/rename of a column no image mentions produces
    // the same bytes whether existing values are cast/renamed before or
    // after the rows merge (updates preserve uncarried columns). Splitting
    // costs a full scan+dedup+merge PER SEGMENT, so recognizing commuting
    // DDLs keeps a schema-evolving replay at O(one merge) instead of
    // O(#DDLs) merges. MOR never splits: delta appends store events
    // schema-agnostically and bind image fields at read/fold time, so the
    // schema-only DDL commits simply land before the data commit (a crash
    // between them re-runs the batch and re-skips the applied DDL).
    val rowEvents = batch.filter(isLiveRow)
    val results =
      if (cfg.morMode || !stats.ddls.exists { case (_, ddl) => isBarrier(ddl, imageFields) }) {
        stats.ddls.foreach { case (ddlSeq, ddl) => applyDdl(table, ddlSeq, ddl) }
        Seq(write(rowEvents, stats.fence, whole = true, last = true))
      } else {
        var lower = Long.MinValue
        stats.ddls.map { case (ddlSeq, ddl) =>
          val r = write(rowEvents.filter(col("seq") > lower && col("seq") < ddlSeq),
            Map.empty, whole = false, last = false)
          applyDdl(table, ddlSeq, ddl)
          lower = ddlSeq
          r
        } :+ write(rowEvents.filter(col("seq") > lower), stats.fence, whole = false, last = true)
      }

    val bm = BatchMetrics(batchId, stats.total, stats.deadLetters,
      math.max(stats.unfenced - stats.deadLetters - stats.ddls.length - stats.rows, 0),
      stats.total - stats.unfenced, results.map(_.eventsApplied).sum,
      results.map(_.tombstonesWritten).sum, results.map(_.conflictsLww).sum,
      stats.ddls.length, table.snapshot.version)
    appendLineage(table, bm, stats.fence, stats.perPartRows)
    drainPending(table)
    bm
  }

  private def idle(batchId: Long, version: Long): BatchMetrics =
    BatchMetrics(batchId, 0, 0, 0, 0, 0, 0, 0, 0, version)

  /** Applies one segment of a batch: its rows, the fence to commit with it,
    * whether it is the whole batch, and whether it is the batch's last. */
  private trait SegmentWriter {
    def apply(seg: DataFrame, fence: Map[Int, Long], whole: Boolean,
        last: Boolean): MergeApply.MergeResult
  }

  /** A batch's statistics, read from the `statAggs` row or observation. */
  private final case class BatchStats(m: Map[String, Any]) {
    private def long(name: String): Long = MergeApply.longMetric(m, name)
    private def seq(name: String): Seq[Any] = m.get(name) match {
      case Some(s: scala.collection.Seq[_]) => s.toSeq
      case _ => Seq.empty
    }
    val total: Long = long("total"); val unfenced: Long = long("unfenced")
    val deadLetters: Long = long("deadLetters")
    val rows: Long = long("rows"); val deletes: Long = long("deletes")
    val ddls: Seq[(Long, Row)] =
      seq("ddls").collect { case r: Row => (r.getLong(0), r.getStruct(1)) }.sortBy(_._1)
    val fence: Map[Int, Long] = PartitionLongAgg.metricMap(m.getOrElse("fence", null))
    val perPartRows: Map[Int, Long] = PartitionLongAgg.metricMap(m.getOrElse("perPartRows", null))
    // COW selection stats (present only on a table with files)
    def buckets: Set[Int] = seq("buckets").collect { case b: Int => b }.toSet
    def keys: Long = math.min(rows, long("keys"))
    def hits: Seq[Int] = seq("hits")
      .flatMap { case s: scala.collection.Seq[_] => s.collect { case i: Int => i } }
      .distinct.sorted
  }

  private def statsJob(batch: DataFrame, aggs: Seq[Column]): BatchStats = {
    val r = batch.agg(aggs.head, aggs.tail: _*).collect()(0)
    BatchStats(r.getValuesMap[Any](r.schema.fieldNames.toSeq))
  }

  private def dedup(rows: DataFrame, cfg: IngestConfig): DataFrame =
    if (cfg.saltedDedup > 1) Dedup.lastWriterPerKeySalted(rows, cfg.saltedDedup)
    else Dedup.lastWriterPerKey(rows)

  /** Copy-on-write: the stats job also selects the whole batch's files.
    * With no files yet that is strategy 1 (insert-only into every bucket)
    * with no selection columns at all; otherwise the live rows' buckets,
    * distinct keys and hit files (the latter through a second narrow job
    * when the manifest is too large for a plan literal — plan size must stay
    * O(1) in the file count). Each segment holds back rows whose image
    * fields the current schema cannot resolve, dedups, and merges. */
  private def cowWriter(table: LakeTable, snap0: Snapshot, batch: DataFrame, batchId: Long,
      cfg: IngestConfig, statAggs: Seq[Column], isLiveRow: Column,
      imageFields: Set[String]): (BatchStats, SegmentWriter) = {
    val bucketOf = table.bucketExpr(col("repo"), col("path"))
    val hkeyOf = table.hkeyExpr(col("repo"), col("path"))
    val literalHits = MergeApply.useLiteralManifest(snap0)
    val selectionAggs =
      if (snap0.files.isEmpty) Seq.empty
      else Seq(collect_set(when(isLiveRow, bucketOf)).as("buckets"),
        // the merge joins the DEDUPED delta, so the broadcast-vs-shuffle
        // strategy must be sized by distinct KEYS, not raw events (a CDC
        // batch re-touching hot keys dedups 10-100×)
        approx_count_distinct(when(isLiveRow, hkeyOf)).as("keys")) ++
        (if (!literalHits) Seq.empty
         else Seq(collect_set(when(isLiveRow,
           MergeApply.fileHitExpr(snap0, bucketOf, hkeyOf))).as("hits")))
    val stats = statsJob(batch, statAggs ++ selectionAggs)

    // The batch-wide selection is exact only for the undivided batch with
    // no rows held back; anything else re-selects inside merge.
    def selection(rowsLeft: Long): Option[MergeApply.FileSelection] =
      if (snap0.files.isEmpty)
        Some(MergeApply.FileSelection(Seq.empty,
          if (rowsLeft > 0) (0 until snap0.numBuckets).toSet else Set.empty, rowsLeft))
      else if (rowsLeft < stats.rows) None
      else {
        val hitFiles =
          if (literalHits) stats.hits.map(snap0.files)
          else MergeApply.hitFiles(table, snap0, batch.filter(isLiveRow), bucketOf, hkeyOf)
        // byte estimate WITHOUT touching the content column (an octet_length
        // in the stats pass would defeat the scan's column pruning — measured
        // 1.7× on bulk replay): compressed source-file bytes scaled by the
        // dedup ratio. Underestimates by the compression ratio (~2-3× for
        // text), which the 64 MB broadcast gate's headroom absorbs.
        val src = try batch.inputFiles.map { f =>
          try java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(f)))
          catch { case _: Exception => 0L }
        }.sum catch { case _: Exception => -1L }
        val bytesHint =
          if (src >= 0 && stats.total > 0) (src.toDouble * stats.keys / stats.total).toLong else -1L
        Some(MergeApply.FileSelection(hitFiles, stats.buckets, stats.keys, bytesHint))
      }

    var segIdx = 0; var heldTotal = 0L
    val write: SegmentWriter = (seg, fence, whole, last) => {
      // cross-batch DDL ordering: rows whose image fields the CURRENT
      // schema (as of this segment) cannot resolve are held back durably
      val (live, heldN) =
        if (stats.rows == 0) (seg, 0L) else holdBack(table, seg, imageFields, batchId, segIdx)
      segIdx += 1; heldTotal += heldN
      val extras =
        if (!last) Map.empty[String, Long]
        else Map("deadLetters" -> stats.deadLetters, "eventsSeen" -> stats.total) ++
          (if (heldTotal > 0) Map("pendingHeldBack" -> heldTotal) else Map.empty)
      MergeApply.merge(table, dedup(live, cfg), fence,
        batchId = if (last) batchId else -1L, salt = cfg.salt, extraMetrics = extras,
        selection = if (whole) selection(stats.rows - heldN) else None)
    }
    (stats, write)
  }

  /** Merge-on-read: the delta write IS the stats job — the stats aggregate
    * rides its source scan as an Observation, so a micro-batch costs one
    * distributed job (scan + optional dedup shuffle + flat parquet write).
    * Its segment step is the commit of the already-written delta files.
    * `eventsApplied`/`tombstonesWritten` count live events BEFORE the
    * per-batch dedup (the delta files hold what survives it). */
  private def morWriter(table: LakeTable, batch: DataFrame, batchId: Long, cfg: IngestConfig,
      statAggs: Seq[Column], isLiveRow: Column): (BatchStats, SegmentWriter) = {
    val obs = Observation(s"mor-${java.util.UUID.randomUUID()}")
    val live = batch.observe(obs, statAggs.head, statAggs.tail: _*).filter(isLiveRow)
    val payload =
      if (cfg.morDedupPerBatch) dedup(live, cfg)
      else live.select(col("repo"), col("path"), col("op"), col("seq"), col("after"))
    val staged = MergeApply.writeDelta(table, payload, cfg.morBatchHistogram)
    // When the payload is EMPTY (all rows fenced/filtered) AQE's empty-
    // relation propagation can drop the CollectMetrics node and the
    // observation comes back empty, or never arrives (timeout): those
    // batches, and only those, run the same aggregate as its own job.
    val observed = try MergeApply.observedMetrics(obs)
      catch { case _: java.util.concurrent.TimeoutException => Map.empty[String, Any] }
    val stats = if (observed.nonEmpty) BatchStats(observed) else statsJob(batch, statAggs)
    val write: SegmentWriter = (_, fence, _, _) => {
      MergeApply.commitDelta(table, staged, fence, batchId, Map(
        "eventsApplied" -> stats.rows, "tombstonesWritten" -> stats.deletes,
        "deadLetters" -> stats.deadLetters, "eventsSeen" -> stats.total))
      MergeApply.MergeResult(stats.rows, stats.rows - stats.deletes, stats.deletes,
        0, 0, 0, 0, staged.files.size)
    }
    (stats, write)
  }

  /** Whether `ddl` touches a column the batch's row images carry. */
  private def isBarrier(ddl: Row, imageFields: Set[String]): Boolean =
    imageFields.contains(ddlField(ddl, "column")) ||
      (ddlField(ddl, "kind") == "rename_column" && imageFields.contains(ddlField(ddl, "newName")))

  private def ddlField(ddl: Row, name: String): String = {
    val i = ddl.fieldIndex(name)
    if (ddl.isNullAt(i)) null else ddl.getString(i)
  }

  /** True iff the batch is provably empty from the plan alone (no job, no
    * scan): either an empty LocalRelation (how MicroBatchExecution represents
    * a no-new-files trigger) or a physical plan with zero input partitions.
    * `toRdd` only instantiates the plan — lazily; it launches nothing. */
  private def batchIsPlanEmpty(batch: DataFrame): Boolean =
    try batch.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.isEmpty
      case _ => batch.queryExecution.toRdd.getNumPartitions == 0
    } catch { case _: Throwable => false } // never let the fast path block a batch

  /** Batch replay of a whole changelog (the `Trigger.AvailableNow`-style
    * entry used by tests and the benchmark's batch mode). */
  def replayLog(table: LakeTable, log: DataFrame, cfg: IngestConfig = IngestConfig()): BatchMetrics =
    applyBatch(table, log, batchId = table.snapshot.committedBatchId + 1, cfg)

  /** Apply one DDL event. Idempotence is guaranteed by the snapshot's
    * `ddlSeq` fence at the call site (a foreachBatch retry re-delivers the
    * whole batch; a crash between the schema-evolution commit and the final
    * data commit must not re-apply DDL). The per-op checks below are a second
    * line of defense for out-of-band schema edits: a DDL whose effect is
    * already present is a no-op, a conflicting one dead-letters.
    */
  private def applyDdl(table: LakeTable, ddlSeq: Long, ddl: Row): Unit =
    // DDL fence: a retried batch skips DDL already in the schema log — per-op
    // checks cannot recognize an add→widen→rename chain as done. Schema-only
    // commits retry on version races (the checks below are idempotent and
    // re-read the refreshed schema).
    if (ddlSeq > table.snapshot.ddlSeq)
      LakeTable.withCommitRetry(table)(applyDdlOnce(table, ddlSeq, ddl))

  private def applyDdlOnce(table: LakeTable, ddlSeq: Long, ddl: Row): Unit = {
    def s(name: String): String = ddlField(ddl, name)
    val sch = table.schema
    s("kind") match {
      case "add_column" =>
        sch.find(s("column")) match {
          case Some(c) if c.dataType == s("toType") => () // already applied
          case Some(c) =>
            appendDeadLetterNote(table,
              s"add_column ${s("column")} type conflict: have ${c.dataType}, want ${s("toType")}")
          case None => table.evolveSchema(_.addColumn(s("column"), s("toType")), ddlSeq)
        }
      case "rename_column" =>
        (sch.find(s("column")), sch.find(s("newName"))) match {
          case (Some(_), None) => table.evolveSchema(_.renameColumn(s("column"), s("newName")), ddlSeq)
          case (None, Some(_)) => () // already applied
          case _ =>
            appendDeadLetterNote(table, s"rename_column ${s("column")}→${s("newName")} unresolvable")
        }
      case "widen_type" =>
        sch.find(s("column")) match {
          case Some(c) if c.dataType == s("toType") => () // already applied
          case Some(_) => table.evolveSchema(_.widenType(s("column"), s("toType")), ddlSeq)
          case None =>
            appendDeadLetterNote(table, s"widen_type on missing column ${s("column")}")
        }
      case other =>
        // unknown DDL: dead-letter semantics — record, don't crash.
        appendDeadLetterNote(table, s"unknown ddl kind: $other")
    }
  }

  /** Dead letters are keyed by batchId: a foreachBatch RETRY of batch N
    * overwrites `_errors/_batchId=N` instead of appending a second copy, so
    * the side output is exactly-once like the main commit (a crash between
    * this write and the snapshot commit re-runs the batch and re-writes the
    * same dir). Ad-hoc batches (batchId < 0) append under `_batchId=-1` —
    * at-least-once, documented. */
  private def appendDeadLetters(table: LakeTable, dl: DataFrame, batchId: Long): Unit = {
    val out = dl.withColumn("_error", Validate.errorExpr)
    if (batchId >= 0)
      out.write.mode(SaveMode.Overwrite).parquet(s"${table.dir}/_errors/_batchId=$batchId")
    else
      out.write.mode(SaveMode.Append).parquet(s"${table.dir}/_errors/_batchId=-1")
  }

  /** Per-writer (per-process) suffix for ad-hoc append files: two concurrent
    * ad-hoc writers (a maintenance job beside a backfill) each append to
    * their OWN file, so lines can never interleave mid-record. Readers
    * aggregate over the whole directory (spark.read.json / CLI report), so
    * the split is invisible to consumers. Batch-keyed paths stay as they are
    * (one exactly-once writer by construction). */
  private lazy val writerId: String = java.util.UUID.randomUUID().toString.take(8)

  private def appendDeadLetterNote(table: LakeTable, msg: String): Unit = {
    val dir = java.nio.file.Paths.get(s"${table.dir}/_errors_notes")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve(s"notes-$writerId.jsonl"),
      graft.lake.Json.obj("_error" -> graft.lake.Json.quote(msg)) + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }

  /** Lineage is tiny per-batch metadata (one summary line + one line per log
    * partition) — written driver-side as JSONL, not via a Spark job: a
    * 1-row parquet write costs a full job (~0.5s of the per-batch serial
    * budget), a file write costs microseconds. Keyed by batchId (one file per
    * batch, truncate-on-retry) so a foreachBatch retry never duplicates
    * lineage lines; ad-hoc batches (batchId < 0) append to a shared file.
    * Read back with spark.read.json over the directory.
    */
  private def appendLineage(
      table: LakeTable, bm: BatchMetrics, fenceDelta: Map[Int, Long],
      perPartRows: Map[Int, Long]): Unit = {
    def line(partition: Int, maxOffset: Long, seen: Long, applied: Long,
        tomb: Long, confl: Long, dl: Long): String =
      s"""{"batchId":${bm.batchId},"snapshotVersion":${bm.snapshotVersion},""" +
      s""""partition":$partition,"maxOffset":$maxOffset,"eventsSeen":$seen,""" +
      s""""eventsApplied":$applied,"tombstones":$tomb,"conflictsLww":$confl,""" +
      s""""deadLetters":$dl}"""
    val lines =
      line(-1, -1L, bm.eventsSeen, bm.eventsApplied, bm.tombstonesWritten,
        bm.conflictsLww, bm.deadLetters) +:
      fenceDelta.toSeq.sortBy(_._1).map { case (p, mo) =>
        line(p, mo, perPartRows.getOrElse(p, 0L), -1L, -1L, -1L, -1L)
      }
    val dir = java.nio.file.Paths.get(s"${table.dir}/_lineage")
    java.nio.file.Files.createDirectories(dir)
    if (bm.batchId >= 0)
      java.nio.file.Files.writeString(dir.resolve(s"batch-${bm.batchId}.jsonl"),
        lines.mkString("", "\n", "\n"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    else
      java.nio.file.Files.writeString(dir.resolve(s"adhoc-$writerId.jsonl"),
        lines.mkString("", "\n", "\n"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
  }

  /** Read the lineage/metrics table (run-report analog,
    * /root/reference/rules/factory_http.go:50-89). */
  def lineage(table: LakeTable): DataFrame = {
    val p = java.nio.file.Paths.get(s"${table.dir}/_lineage")
    if (java.nio.file.Files.isDirectory(p))
      table.spark.read.schema(lineageSchema).json(p.toString)
    else
      table.spark.createDataFrame(
        java.util.Collections.emptyList[Row](), lineageSchema)
  }
}
