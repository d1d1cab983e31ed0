package graft.ingest

import graft.lake.{CommitConflictException, DataFile, FlatHistOp, ImageBinding, LakeTable,
  Snapshot, TableSchema}
import graft.model.Ops
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Set-oriented MERGE INTO over the LakeTable — the engine's replacement for
  * the reference's per-row SQL rendering (`sqlMaker`,
  * /root/reference/event/sql_maker.go:28-188). Semantics per SURVEY §2.4:
  *
  * {{{
  * MERGE INTO repos USING delta ON key
  *   WHEN MATCHED AND delta.op = 'delete' AND delta.seq > repos._seq THEN tombstone
  *   WHEN MATCHED AND delta.seq > repos._seq THEN UPDATE SET <after-image cols>
  *   WHEN NOT MATCHED THEN INSERT (delete ⇒ tombstone, so stale replays can
  *                                 never resurrect the row)
  * }}}
  *
  * The delta must be pre-deduped to one row per (repo, path) (Dedup).
  * Schema columns NOT carried by the after-image (added later by DDL) are
  * preserved from the current row on update — the reference's
  * "UPDATE SET only changed fields" semantics
  * (/root/reference/event/sql_maker.go:161-177).
  *
  * Copy-on-write at FILE granularity: manifest key-range stats (min/max of
  * `_hkey = xxhash64(repo, path)` per file) select exactly the files that can
  * contain a delta key; only those are read and rewritten, everything else
  * survives the commit untouched. Output files are written sorted by
  * (_bucket, _hkey) and split at `targetFileRows`, so each covers a narrow
  * key slice and future merges prune well.
  *
  * Three physical strategies, chosen per batch from the selection stats:
  *
  *  1. '''insert-only''' — no existing file overlaps any delta key (fresh
  *     table / disjoint key range): NO join at all; the delta is projected
  *     and written.
  *  2. '''broadcast-incremental''' — small delta against a large base (the
  *     steady-state CDC shape): base LEFT JOIN broadcast(delta) resolves
  *     matched rows with ZERO shuffle of the base (broadcast-hash-join
  *     preserves the scan's partitioning), and the insert residue comes from
  *     a keys-only anti join (the base side shuffles 2 slim string columns,
  *     never content). This is what makes a 1-key batch cost O(1 file), not
  *     O(table).
  *  3. '''shuffle merge + bucket-routed write''' — large delta (initial
  *     load, bulk replay): full-outer join on the key (repo, path) — the
  *     delta side usually arrives partitioned by exactly those keys from the
  *     ingest's LWW dedup, so only the base side exchanges — then ONE
  *     explicit repartition of the merged output on (_bucket[, salt]) feeds
  *     the partitioned write, bounding the commit's file count at
  *     buckets × salt. (An earlier design joined on (bucket[, salt], repo,
  *     path) with both sides pre-repartitioned by bucket, expecting subset
  *     co-partitioning to make the join exchange double as the write layout;
  *     Spark 4 rewrites those repartitions into a full-key exchange, which
  *     silently degraded every commit into a tasks × buckets small-file
  *     fan-out — a 1.5k-row commit wrote 492 files of 1-11 rows.)
  *
  * Lineage metrics ride the write via `Dataset.observe` (no separate pass).
  * The delta is deliberately NOT cached on the shuffle path: rebuilding it
  * once costs far less than an in-memory columnar cache build (which also
  * anti-scales with cores — measured 27s@8c vs 70s@32c for a 512k-row delta
  * vs ~4s to recompute). On the broadcast path the (small) delta IS persisted
  * for its two uses and unpersisted before return.
  */
object MergeApply {

  /** Codec for short-lived delta EVENT files (MOR appends and compacted
    * delta logs). Base files stay zstd — they live until rewritten and
    * dominate table bytes at rest — but deltas are written once, read
    * once or twice (MorRead / fold) and dropped, so encode speed beats
    * ratio on the streaming hot path (Hudi log-file trade). */
  val deltaFileCodec: String = "snappy"

  /** daemon pool for observation reads (bounded; see observedMetrics). */
  private lazy val metricPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(
        (r: Runnable) => { val t = new Thread(r, "merge-metric"); t.setDaemon(true); t }))

  /** Read one observed metric with a hard timeout: a lost-metrics planner
    * pathology (AQE replacing an observed subtree with an empty relation)
    * must surface as a loud error, never a hung stream. Runs on a dedicated
    * daemon pool — a thread stuck on a never-delivering obs.get must not
    * poison the global ExecutionContext. */
  private[ingest] def observedMetrics(obs: Observation): Map[String, Any] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    Await.result(Future(obs.get)(metricPool), 120.seconds)
  }

  /** A long metric of an observation or collected row; null (a sum or max
    * over no rows) reads as `default`. */
  private[ingest] def longMetric(m: Map[String, Any], name: String, default: Long = 0L): Long =
    m.get(name) match {
      case Some(v: Long) => v
      case _ => default
    }

  final case class MergeResult(
      eventsApplied: Long,
      upserts: Long,
      tombstonesWritten: Long,
      conflictsLww: Long,
      duplicatesIgnored: Long,
      affectedBuckets: Int,
      filesRewritten: Int,
      filesAdded: Int)

  /** Which manifest files a delta can touch, plus sizing stats for the
    * strategy choice. Produced by [[selectFiles]] or piggybacked on the
    * caller's stats pass (Ingest).
    * @param deltaBytesHint observed content bytes of the delta's after-images
    *        (-1 = unknown) — the broadcast-path size gate (a row-count gate
    *        alone lets a 100k-row delta of large blobs build a multi-GB
    *        broadcast). */
  final case class FileSelection(
      files: Seq[DataFile], buckets: Set[Int], deltaRowsHint: Long,
      deltaBytesHint: Long = -1L)

  /** Max delta rows for the broadcast-incremental path. ~100k rows of
    * (key + 160B content) ≈ 25 MB broadcast — comfortably inside executor
    * memory at 1000 executors; beyond that the bucket-aligned shuffle is the
    * better plan anyway (delta ≈ base). */
  val BroadcastDeltaMaxRows = 100000L

  /** Max ESTIMATED delta bytes for the broadcast path (content bytes + fixed
    * per-row overhead) — autoBroadcastJoinThreshold-style semantics; above it
    * the bucket-aligned shuffle is used regardless of row count. */
  val BroadcastDeltaMaxBytes = 64L << 20

  /** Estimated broadcast size of a delta: observed content bytes (when the
    * selection pass measured them) plus a fixed per-row envelope. Unknown
    * content bytes fall back to a conservative per-row guess. */
  def estimatedDeltaBytes(sel: FileSelection): Long =
    if (sel.deltaBytesHint >= 0) sel.deltaBytesHint + sel.deltaRowsHint * 128L
    else sel.deltaRowsHint * 512L

  /** Observed content-byte expression for a delta's after-image (the size
    * gate's input): octet_length of every string field of `after`, summed.
    * Null-safe; non-string fields count a fixed 16 bytes. */
  def deltaBytesExpr(delta: DataFrame): Column =
    delta.schema("after").dataType match {
      case s: org.apache.spark.sql.types.StructType =>
        s.fields.map { f =>
          f.dataType match {
            case org.apache.spark.sql.types.StringType =>
              coalesce(octet_length(col(s"after.${f.name}")).cast("long"), lit(0L))
            case _ => lit(16L)
          }
        }.reduceOption(_ + _).getOrElse(lit(0L))
      case _ => lit(0L)
    }

  /** Above this manifest size the per-row literal-map [[fileHitExpr]] is
    * abandoned for a broadcast-joined lookup ([[fileHitsDF]]): a typedlit over
    * 10^5-10^6 manifest entries bloats every plan that embeds it (driver OOM
    * risk at 100 TB); a broadcast LocalRelation costs one tiny extra join and
    * keeps the plan tree O(1). */
  val LiteralManifestMaxFiles = 4096

  def useLiteralManifest(snap: Snapshot): Boolean =
    snap.files.size <= LiteralManifestMaxFiles

  /** Above this file count — when the snapshot is SEGMENTED — the planning
    * lookup scans the manifest JSONL files as a DataFrame instead of building
    * a driver-side LocalRelation: LocalRelation rows are serialized into the
    * physical plan on the driver (10^6 entries ≈ 10^2 MB per planned query),
    * a manifest scan ships only file paths and reads in tasks. */
  val ScanManifestMinFiles = 65536

  /** The manifest as a broadcastable lookup table (bucket, minKey, maxKey,
    * file path). Small manifests ride a LocalRelation (compact binary rows);
    * large segmented ones are scanned from their JSONL manifest files (see
    * [[ScanManifestMinFiles]]). */
  def manifestDF(table: LakeTable, snap: Snapshot): DataFrame = {
    val spark = table.spark
    val basePaths = graft.lake.Manifest.absolutePaths(
      table.dir, snap, graft.lake.Manifest.BaseKind)
    if (snap.files.size >= ScanManifestMinFiles && basePaths.nonEmpty) {
      spark.read.schema("bucket INT, path STRING, minKey BIGINT, maxKey BIGINT")
        .json(basePaths: _*)
        .select(col("bucket").as("_mb"), col("minKey").as("_mmin"),
          col("maxKey").as("_mmax"), col("path").as("_mpath"))
    } else {
      import spark.implicits._
      snap.files.map(f => (f.bucket, f.minKey, f.maxKey, f.path))
        .toDF("_mb", "_mmin", "_mmax", "_mpath")
    }
  }

  /** Manifest-file PATHS hit by `keys` rows, via broadcast range join —
    * the large-manifest replacement for [[fileHitExpr]]. `keys` must expose
    * the delta's (repo, path); the hit set is tiny by construction (bounded
    * by the manifest), so the distinct is a cheap partial aggregation. */
  def fileHitsDF(table: LakeTable, snap: Snapshot, keys: DataFrame,
      bucket: Column, hkey: Column): DataFrame =
    keys.select(bucket.as("_b"), hkey.as("_hk"))
      .join(broadcast(manifestDF(table, snap)),
        col("_b") === col("_mb") && col("_hk") >= col("_mmin") && col("_hk") <= col("_mmax"))
      .select(col("_mpath"))
      .distinct()

  /** [[fileHitsDF]] resolved to manifest entries (one narrow job). */
  def hitFiles(table: LakeTable, snap: Snapshot, keys: DataFrame,
      bucket: Column, hkey: Column): Seq[DataFile] = {
    val byPath = snap.files.iterator.map(f => f.path -> f).toMap
    fileHitsDF(table, snap, keys, bucket, hkey).collect()
      .map(_.getString(0)).sorted.toSeq.map(byPath)
  }

  /** Per-row file-hit expression: array of manifest-file indices whose
    * (bucket, key-range) can contain this row's key. The manifest rides the
    * plan as a literal map — used only up to [[LiteralManifestMaxFiles]];
    * larger manifests go through [[fileHitsDF]]'s broadcast-joined lookup. */
  def fileHitExpr(snap: Snapshot, bucket: Column, hkey: Column): Column = {
    val ranges: Map[Int, Seq[(Long, Long, Int)]] =
      snap.files.zipWithIndex.groupBy(_._1.bucket).map { case (b, fs) =>
        b -> fs.map { case (f, i) => (f.minKey, f.maxKey, i) }
      }
    val arr = try_element_at(typedlit(ranges), bucket)
    when(arr.isNull, typedlit(Seq.empty[Int]))
      .otherwise(transform(
        filter(arr, r => hkey >= r.getField("_1") && hkey <= r.getField("_2")),
        r => r.getField("_3")))
  }

  /** Fallback selection pass (one small job over the delta keys) for callers
    * that did not piggyback selection on their own stats job. */
  def selectFiles(table: LakeTable, delta: DataFrame): FileSelection = {
    val snap = table.snapshot
    val bucketCol = table.bucketExpr(col("repo"), col("path"))
    val hkeyCol = table.hkeyExpr(col("repo"), col("path"))
    val literalHits = snap.files.nonEmpty && useLiteralManifest(snap)
    val hitsAgg =
      if (literalHits) Seq(collect_set(fileHitExpr(snap, bucketCol, hkeyCol)).as("hs")) else Nil
    val rows = delta.groupBy(bucketCol.as("_b"))
      .agg(count(lit(1)).as("n"), sum(deltaBytesExpr(delta)).as("bytes") +: hitsAgg: _*)
      .collect()
    // a large manifest finds its hit files through the broadcast range join
    // (two slim scans beat a 10^5-entry plan literal at 100 TB)
    val files =
      if (literalHits)
        rows.flatMap(_.getSeq[scala.collection.Seq[Int]](3).flatten)
          .distinct.sorted.toSeq.map(snap.files)
      else if (snap.files.isEmpty) Seq.empty
      else hitFiles(table, snap, delta, bucketCol, hkeyCol)
    FileSelection(files, rows.map(_.getInt(0)).toSet, rows.map(_.getLong(1)).sum,
      rows.map(r => if (r.isNullAt(2)) 0L else r.getLong(2)).sum)
  }

  /** @param delta  one row per key: (repo, path, op, seq, after:struct)
    * @param fenceDelta per-log-partition max offsets covered by this delta's
    *                   source batch — committed atomically with the data
    * @param salt   >1 spreads each rewritten bucket's shuffle/write work
    *               across `salt` tasks (hot-bucket skew); the salt column is
    *               a pure function of `path`, so it is safe as an extra join
    *               key
    * @param selection precomputed file selection (else one extra small job)
    */
  def merge(
      table: LakeTable,
      delta: DataFrame,
      fenceDelta: Map[Int, Long],
      batchId: Long = -1L,
      salt: Int = 1,
      extraMetrics: Map[String, Long] = Map.empty,
      selection: Option[FileSelection] = None,
      /** extra manifest paths dropped in the SAME commit (Mor.fold removes
        * the folded delta files atomically with the rewritten base). */
      alsoReplacePaths: Set[String] = Set.empty,
      /** delta EVENT files added in the SAME commit (a PARTIAL Mor.fold
        * drops every old delta file and re-adds the unfolded remainder as a
        * compacted delta — one atomic swap, no window where deferred events
        * are unreadable). */
      alsoNewDeltaFiles: Seq[DataFile] = Seq.empty,
      /** scheduling-histogram update for this commit (folds pass Sub of the
        * flat counts they consumed). */
      flatHistOp: FlatHistOp = FlatHistOp.Keep): MergeResult = {
    // Optimistic-concurrency retry (Iceberg semantics): losing a snapshot
    // version race to a concurrent committer (compaction, rebucket, another
    // writer) re-runs the merge against the REFRESHED snapshot — the passed-in
    // selection is stale after a conflict (the manifest changed), so retries
    // re-select. Value-correct because the delta is re-derivable and LWW
    // convergence is order-independent.
    var sel = selection
    LakeTable.withCommitRetry(table) {
      try mergeOnce(table, delta, fenceDelta, batchId, salt, extraMetrics, sel,
        alsoReplacePaths, alsoNewDeltaFiles, flatHistOp)
      finally sel = None
    }
  }

  /** Merge-on-read WRITE half: append the batch as flat delta EVENT files —
    * no base read, no file selection, no rewrite. Write cost is O(batch)
    * regardless of how many base files the keys touch (the COW path
    * rewrites every hit file; a full-key-range micro-batch makes that
    * O(table) per batch — the reason streaming throughput trailed batch
    * replay by ~7×). Reads resolve via [[graft.lake.MorRead]]; `Mor.fold`
    * (compaction) turns the accumulated deltas into one ordinary COW merge.
    *
    * `delta` may carry RAW events (several per key): unlike [[merge]], the
    * one-row-per-key contract is NOT required here, because read resolution
    * ([[graft.lake.MorRead.deltaWinners]]) and fold LWW-dedup across ALL
    * delta files anyway — appending raw keeps the micro-batch shuffle-free
    * (Hudi log-file shape; see IngestConfig.morDedupPerBatch for the
    * trade-off). Fence/batchId/exactly-once semantics identical to merge: a
    * retried batch is skipped by the batchId fence before this is called,
    * so delta files are never double-appended.
    *
    * This is [[writeDelta]] then [[commitDelta]]; `Ingest.applyBatch` calls
    * the two itself so that its DDL commits land between them. */
  def appendDelta(
      table: LakeTable,
      delta: DataFrame,
      fenceDelta: Map[Int, Long],
      batchId: Long = -1L,
      extraMetrics: Map[String, Long] = Map.empty): MergeResult = {
    val staged = writeDelta(table, delta)
    commitDelta(table, staged, fenceDelta, batchId, extraMetrics)
    MergeResult(staged.events, staged.events - staged.deletes, staged.deletes,
      conflictsLww = 0, duplicatesIgnored = 0, affectedBuckets = 0,
      filesRewritten = 0, filesAdded = staged.files.size)
  }

  /** Delta files written by [[writeDelta]], not yet committed: their events'
    * delete count and max seq, and the per-bucket event histogram counted
    * under `numBuckets` (None = unknown). */
  final case class StagedDelta(files: Seq[DataFile], deletes: Long, maxSeq: Long,
      hist: Option[Map[Int, Long]], numBuckets: Int) {
    def events: Long = files.iterator.map(_.rows).sum
  }

  /** Write `delta` as flat delta files into a fresh commit dir. Delta EVENT
    * files are read wholesale (never pruned by bucket or key: MorRead
    * re-groups by key, fold re-derives layout), so the append does NO
    * layout work at all: no repartition-by-bucket (one whole extra exchange
    * per micro-batch), no partitionBy (≈ numBuckets files + footer opens per
    * batch), no sort — the rows are written as-is in their incoming
    * partitioning (AQE has already coalesced small batches to a handful of
    * partitions ⇒ a handful of files).
    *
    * The per-bucket histogram (`histogram`, up to [[Snapshot.HistMaxBuckets]])
    * rides the write as conditional sums in one Observation and lands in the
    * snapshot (Snapshot.flatDeltaHist), so fold scheduling never scans the
    * flat backlog. */
  private[ingest] def writeDelta(table: LakeTable, delta: DataFrame,
      histogram: Boolean = true): StagedDelta = {
    val snap = table.snapshot
    val histN =
      if (histogram && snap.numBuckets <= Snapshot.HistMaxBuckets) snap.numBuckets else 0
    val countAggs = Seq(
      sum(when(col("op") === Ops.Delete, 1L).otherwise(0L)).as("deletes"),
      max(col("seq")).as("maxSeq"))
    val aggs = countAggs ++ (0 until histN)
      .map(i => sum(when(col("_hb") === i, 1L).otherwise(0L)).as(s"_h$i"))
    val obs = Observation(s"mor-append-${java.util.UUID.randomUUID()}")
    val commitDir = table.newCommitDataDir()
    delta.withColumn("_hb", table.bucketExpr(col("repo"), col("path")))
      .observe(obs, aggs.head, aggs.tail: _*)
      .drop("_hb")
      .write.mode("overwrite") // commitDir is fresh; overwrite = retry-safe
      .options(Map("compression" -> deltaFileCodec,
        "maxRecordsPerFile" -> snap.targetFileRows.toString))
      .parquet(commitDir)
    val files = table.listWrittenFilesFlat(commitDir, snap.schemaId)
    if (files.isEmpty) return StagedDelta(files, 0L, -1L, None, snap.numBuckets)
    // A lost (AQE-pruned) or timed-out observation must not read as zero
    // counts — an exact-but-wrong histogram that foldPartial would trust and
    // pruned MOR reads would trip on. Recount from the written files instead
    // and record the histogram as unknown (scan fallback).
    val om = try observedMetrics(obs)
      catch { case _: java.util.concurrent.TimeoutException => Map.empty[String, Any] }
    val m =
      if (om.nonEmpty) om
      else {
        val r = table.spark.read.parquet(commitDir)
          .agg(countAggs.head, countAggs.tail: _*).collect()(0)
        r.getValuesMap[Any](r.schema.fieldNames.toSeq)
      }
    val hist =
      if (histN == 0 || om.isEmpty) None
      else Some((0 until histN).iterator.map(i => i -> longMetric(om, s"_h$i"))
        .filter(_._2 > 0L).toMap)
    StagedDelta(files, longMetric(m, "deletes"), longMetric(m, "maxSeq", -1L), hist,
      snap.numBuckets)
  }

  /** Commit staged delta files with the batch's fence. Delta files carry
    * no bucket layout (`bucket = -1`), so a rebucket racing the append leaves
    * them valid and a plain optimistic retry suffices; only the histogram,
    * counted under the old layout, is wrong then — it is recorded as
    * unknown. */
  private[ingest] def commitDelta(table: LakeTable, staged: StagedDelta,
      fenceDelta: Map[Int, Long], batchId: Long, extraMetrics: Map[String, Long]): Unit =
    LakeTable.withCommitRetry(table) {
      val hist =
        if (staged.files.isEmpty) FlatHistOp.Keep
        else if (table.snapshot.numBuckets != staged.numBuckets) FlatHistOp.Add(None)
        else FlatHistOp.Add(staged.hist)
      table.commit(Set.empty, Seq.empty, fenceDelta,
        Map("deltaEventsAppended" -> staged.events,
          "deltaFilesWritten" -> staged.files.size.toLong,
          "batches" -> 1L) ++ extraMetrics,
        batchId, maxSeq = staged.maxSeq, newDeltaFiles = staged.files, flatHistOp = hist)
    }

  private def mergeOnce(
      table: LakeTable,
      delta: DataFrame,
      fenceDelta: Map[Int, Long],
      batchId: Long,
      salt: Int,
      extraMetrics: Map[String, Long],
      selection: Option[FileSelection],
      alsoReplacePaths: Set[String] = Set.empty,
      alsoNewDeltaFiles: Seq[DataFile] = Seq.empty,
      flatHistOp: FlatHistOp = FlatHistOp.Keep): MergeResult = {
    val spark = table.spark
    val snap = table.snapshot
    val sel = selection.getOrElse(selectFiles(table, delta))

    if (sel.buckets.isEmpty && sel.deltaRowsHint == 0L) {
      // Nothing to apply — still advance the fence/lineage atomically (and
      // still swap the caller's delta files: a fold whose fold-side emptied
      // out after hold-back must not leave the dropped paths live).
      table.commit(alsoReplacePaths, Seq.empty, fenceDelta,
        extraMetrics + ("batches" -> 1L), batchId, newDeltaFiles = alsoNewDeltaFiles,
        flatHistOp = flatHistOp)
      return MergeResult(0, 0, 0, 0, 0, 0, 0, 0)
    }

    val sch = snap.schema
    // Rename-safe image binding: an after-image written before a
    // rename_column DDL carries the OLD field name; resolve it to the current
    // column through the schema log's stable column ids instead of silently
    // dropping the value. Truly unresolvable fields are surfaced as a metric
    // (never lost silently — the reference forwards raw DDL and has no such
    // protection, /root/reference/event/sql_maker.go:72-78).
    val (imageBinding, unresolvedImageFields) =
      ImageBinding.bind(snap, ImageBinding.imageFields(delta))
    /** image field feeding schema column `c`, if any. */
    def imageField(c: String): Option[String] = imageBinding.get(c)
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val saltN = math.max(salt, 1)

    val useBroadcast = sel.files.nonEmpty &&
      sel.deltaRowsHint >= 0 && sel.deltaRowsHint <= BroadcastDeltaMaxRows &&
      estimatedDeltaBytes(sel) <= BroadcastDeltaMaxBytes &&
      sel.files.iterator.map(_.rows).sum > 2 * sel.deltaRowsHint

    val commitDir = table.newCommitDataDir()
    val writeOpts = Map("compression" -> "zstd",
      "maxRecordsPerFile" -> snap.targetFileRows.toString)

    def withLayout(df: DataFrame): DataFrame = df
      .withColumn("_bucket", table.bucketExpr(col("repo"), col("path")))
      .withColumn(LakeTable.HkeyCol, table.hkeyExpr(col("repo"), col("path")))

    // --- per-branch projections -------------------------------------------
    def isDelOf(dop: Column): Column = dop === Ops.Delete

    // Lineage metrics ride as PER-ROW FLAG COLUMNS through every branch and
    // are summed by ONE Observation directly above the final (never-empty)
    // output. A per-branch Observation deadlocks under AQE: a branch that
    // turns out empty at runtime (e.g. the insert residue when every delta
    // key matched) is replaced by an empty relation INCLUDING its
    // CollectMetrics node, and Observation.get then blocks forever.
    val flagCols = Seq("_fApplied", "_fTombstone", "_fUpsert",
      "_fConflict", "_fDuplicate", "_fNoop", "_fUnres")
    def flag(c: Column): Column = when(c, 1L).otherwise(0L)

    // A row LOSES data only if an unresolvable image field carries a non-null
    // value (Ingest's hold-back removes such rows before merge; this metric
    // is the last-line detector for direct callers/backfills).
    def unresValue(fieldOf: String => Column): Column =
      unresolvedImageFields.toSeq.sorted.map(f => fieldOf(f).isNotNull)
        .reduceOption(_ || _).getOrElse(lit(false))

    /** delta row becomes a fresh row (insert or absorbing tombstone). */
    def insertProjection(d: DataFrame): DataFrame = {
      val isDel = isDelOf(col("op"))
      val cols = sch.columns.map { c =>
        val tp = TableSchema.toSpark(c.dataType)
        if (c.name == "repo" || c.name == "path") col(c.name)
        else imageField(c.name) match {
          case Some(f) =>
            when(!isDel, col(s"after.$f").cast(tp)).otherwise(lit(null).cast(tp)).as(c.name)
          case None => lit(null).cast(tp).as(c.name)
        }
      } ++ Seq(col("seq").as(LakeTable.SeqCol), isDel.as(LakeTable.DeletedCol),
        lit(1L).as("_fApplied"), flag(isDel).as("_fTombstone"),
        flag(!isDel).as("_fUpsert"), lit(0L).as("_fConflict"),
        lit(0L).as("_fDuplicate"), lit(0L).as("_fNoop"),
        flag(!isDel && unresValue(f => col(s"after.$f"))).as("_fUnres"))
      d.select(cols: _*)
    }

    /** matched-side resolution: base vs delta under LWW, with metric flags. */
    def resolveMatched(joined: DataFrame): DataFrame = {
      val baseSeq = col(s"b.${LakeTable.SeqCol}")
      val dWins = col("d.seq").isNotNull && (baseSeq.isNull || col("d.seq") > baseSeq)
      val dStale = col("d.seq").isNotNull && baseSeq.isNotNull && col("d.seq") < baseSeq
      val dDup = col("d.seq").isNotNull && baseSeq.isNotNull && col("d.seq") === baseSeq
      val isDel = isDelOf(col("d.op"))
      // no-op update detection — the reference's DiffData strips unchanged
      // fields and skips empty updates (/root/reference/config/aggregation.go:
      // 164-207); set-orientedly that's a null-safe compare of the after-image
      // against the current row, surfaced as a metric
      val imageUnchanged = imageBinding
        .map { case (c, f) => col(s"d.after.$f") <=> col(s"b.$c") }
        .reduceOption(_ && _).getOrElse(lit(false))
      val outCols = sch.columns.map { c =>
        val tp = TableSchema.toSpark(c.dataType)
        if (c.name == "repo" || c.name == "path")
          coalesce(col(s"d.${c.name}"), col(s"b.${c.name}")).as(c.name)
        else imageField(c.name) match {
          case Some(f) =>
            when(dWins && !isDel, col(s"d.after.$f").cast(tp))
              .when(dWins && isDel, lit(null).cast(tp))
              .otherwise(col(s"b.${c.name}")).as(c.name)
          case None => // schema column not carried by the image: preserve current value
            when(dWins && isDel, lit(null).cast(tp))
              .otherwise(col(s"b.${c.name}")).as(c.name)
        }
      } ++ Seq(
        when(dWins, col("d.seq")).otherwise(baseSeq).as(LakeTable.SeqCol),
        when(dWins, isDel).otherwise(col(s"b.${LakeTable.DeletedCol}")).as(LakeTable.DeletedCol),
        flag(dWins).as("_fApplied"),
        flag(dWins && isDel).as("_fTombstone"),
        flag(dWins && !isDel).as("_fUpsert"),
        flag(dStale).as("_fConflict"),
        flag(dDup).as("_fDuplicate"),
        flag(dWins && !isDel && baseSeq.isNotNull && imageUnchanged).as("_fNoop"),
        flag(dWins && !isDel && unresValue(f => col(s"d.after.$f"))).as("_fUnres"))
      joined.select(outCols: _*)
    }

    /** sum the flags via one CollectMetrics node above the final output,
      * drop the flags, write. The observed node feeds the writer directly,
      * so it can never be pruned while there is anything to write. */
    def observeAndWrite(df: DataFrame): Observation = {
      val obs = Observation(s"merge-${java.util.UUID.randomUUID()}")
      val observed = df.observe(obs,
        sum(col("_fApplied")).as("applied"),
        sum(col("_fTombstone")).as("tombstones"),
        sum(col("_fUpsert")).as("upserts"),
        sum(col("_fConflict")).as("conflicts"),
        sum(col("_fDuplicate")).as("duplicates"),
        sum(col("_fNoop")).as("noopUpdates"),
        sum(col("_fUnres")).as("unresolvedVals"),
        // GTID analog: newest log seq now present in the table
        max(col(LakeTable.SeqCol)).as("maxSeq"))
      write(observed.drop(flagCols: _*)
        .sortWithinPartitions(col("_bucket"), col(LakeTable.HkeyCol)))
      obs
    }

    def write(df: DataFrame): Unit = {
      if (sys.env.contains("GRAFT_EXPLAIN")) df.explain("formatted")
      df.write.mode("overwrite").options(writeOpts).partitionBy("_bucket").parquet(commitDir)
    }

    val obs: Observation = if (sel.files.isEmpty) {
      // ---- strategy 1: insert-only (no join) ----
      val rows = withLayout(insertProjection(delta))
      val p = math.max(1, math.min(sel.buckets.size * saltN, shufflePartitions))
      val routed =
        if (saltN > 1)
          rows.repartition(p, col("_bucket"), pmod(hash(col("path")), lit(saltN)))
        else rows.repartition(p, col("_bucket"))
      observeAndWrite(routed)
    } else if (useBroadcast) {
      // ---- strategy 2: broadcast-incremental (base never shuffles) ----
      val d0 = delta.persist() // two consumers (matched join + anti join)
      try {
        val b = table.readInternal(snap, sel.files).alias("b")
        val d = d0.alias("d")
        val matched = resolveMatched(
          b.join(broadcast(d),
            col("b.repo") === col("d.repo") && col("b.path") === col("d.path"),
            "left_outer"))
        // keys-only residue: which delta rows hit NO base row (column pruning
        // reads just the two key columns of the selected files)
        val baseKeys = table.readInternal(snap, sel.files).select(col("repo"), col("path"))
        val inserts = insertProjection(d0.join(baseKeys, Seq("repo", "path"), "left_anti"))
        val pIns = math.max(1, math.min(sel.buckets.size, shufflePartitions))
        observeAndWrite(withLayout(matched)
          .unionByName(withLayout(inserts).repartition(pIns, col("_bucket"))))
      } finally d0.unpersist(blocking = false)
    } else {
      // ---- strategy 3: shuffle merge + bucket-routed write ----
      // Join on the real key: the delta side's LWW dedup already hash-
      // partitioned it by (repo, path), so the join reuses that exchange and
      // only the base side shuffles. In the join there is no bucket skew to
      // salt (one row per key per side); salt spreads the WRITE of a hot
      // bucket across `saltN` tasks instead.
      val b = table.readInternal(snap, sel.files).alias("b")
      val d = delta.alias("d")
      val joined = b.join(d,
        col("b.repo") === col("d.repo") && col("b.path") === col("d.path"),
        "full_outer")
      val merged = withLayout(resolveMatched(joined))
      val p = math.max(1, math.min(sel.buckets.size * saltN, shufflePartitions))
      val routed =
        if (saltN > 1)
          merged.repartition(p, col("_bucket"), pmod(hash(col("path")), lit(saltN)))
        else merged.repartition(p, col("_bucket"))
      observeAndWrite(routed)
    }
    val om = observedMetrics(obs)
    def metric(name: String): Long = longMetric(om, name)
    val applied = metric("applied"); val tombstones = metric("tombstones")
    val upserts = metric("upserts"); val conflicts = metric("conflicts")
    val duplicates = metric("duplicates"); val noops = metric("noopUpdates")
    val maxSeq = longMetric(om, "maxSeq", -1L)

    val newFiles: Seq[DataFile] = table.listWrittenFiles(commitDir, sch.schemaId)
    val metricsDelta = Map(
      "eventsApplied" -> applied,
      "upserts" -> upserts,
      "tombstonesWritten" -> tombstones,
      "conflictsLww" -> conflicts,
      "duplicatesIgnored" -> duplicates,
      "noopUpdates" -> noops,
      "filesRewritten" -> sel.files.size.toLong,
      // rows that APPLIED while carrying a non-null value in an image field
      // the schema could not resolve — data actually dropped (Ingest's
      // hold-back keeps this at zero for the streaming path)
      "unresolvedImageFields" -> metric("unresolvedVals"),
      "batches" -> 1L) ++ extraMetrics
    // Final commit with one cheap revalidated re-attempt: if a concurrent
    // commit raced us but did NOT touch any of our input files (fence-only
    // commit, another bucket's writer), the merge output is still exact —
    // re-commit on top of the refreshed snapshot. If any input file was
    // replaced (compaction/rebucket), rethrow: the outer retry redoes the
    // merge against the new manifest.
    val replaced = sel.files.map(_.path).toSet ++ alsoReplacePaths
    def commitFinal(): Unit =
      try {
        table.commit(replaced, newFiles, fenceDelta, metricsDelta, batchId,
          maxSeq = maxSeq, newDeltaFiles = alsoNewDeltaFiles, flatHistOp = flatHistOp)
        ()
      } catch {
        case e: CommitConflictException =>
          val live = table.refresh().files.iterator.map(_.path).toSet
          if (sel.files.forall(f => live.contains(f.path)))
            table.commit(replaced, newFiles, fenceDelta, metricsDelta,
              batchId, maxSeq = maxSeq, newDeltaFiles = alsoNewDeltaFiles, flatHistOp = flatHistOp)
          else throw e
      }
    commitFinal()
    MergeResult(applied, upserts, tombstones, conflicts, duplicates,
      sel.buckets.size, sel.files.size, newFiles.size)
  }
}
