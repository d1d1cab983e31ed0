package graft.lake

import graft.ingest.{Dedup, MergeApply}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.functions._

/** The merge-on-read resolver (the read half of MOR mode; the write half is
  * `MergeApply.appendDelta`, the fold is `Mor.fold`). Every MOR read — the
  * public [[resolve]], the change feed's two state reads, the chain
  * bootstrap and the fold's winners — goes through the functions below.
  *
  * Delta files are EVENT logs: (repo, path, op, seq, after-image).
  *  - [[deltaEvents]] is the engine's one delta-file read. It plans from the
  *    manifest like a base-file read: the merged read schema comes from the
  *    schemas the entries recorded at write (the image struct may gain
  *    fields across batches), and the scan goes through a
  *    [[ManifestFileIndex]], so no listing and no schema-merge job.
  *  - [[deltaWinners]] is those events through the one LWW per-key aggregate
  *    (`Dedup.lastWriterPerKey`, the ingest dedup's too).
  *  - [[resolveOn]] joins winners against base files under the LWW column
  *    policy of [[ImageBinding.lwwColumns]] — the COW merge's own — so a read
  *    resolves exactly as a fold would write. MorSpec asserts read-resolution
  *    == COW result, including uncarried columns and stale-replay tombstones.
  *
  * Two physical shapes, mirroring the COW merge's strategy choice:
  *  - '''broadcast''' (delta events ≤ `MergeApply.BroadcastDeltaMaxRows` and
  *    delta bytes ≤ `broadcastMaxBytes` — the common between-folds state):
  *    base LEFT OUTER broadcast(winners) + a keys-only anti-join insert
  *    residue. The base is never shuffled. The matched side's keys are the
  *    base row's, so a `repo = ? AND path = ?` filter above the read reaches
  *    the base scan (one file opened) and is inferred into the winners'
  *    delta scan and the anti-join's base keys.
  *  - '''full-outer shuffle''' for large unfolded backlogs (full-outer
  *    broadcast joins are unsupported in Spark, so both sides exchange).
  * Read amplification is bounded by fold cadence.
  */
object MorRead {

  /** Above this many delta BYTES (on-disk, from the manifest) the broadcast
    * shape is abandoned regardless of row count — the COW merge's gate (a
    * row-count gate alone lets 100k events of 1 MB contents build a ~100 GB
    * broadcast and OOM every executor on every MOR read). */
  val BroadcastDeltaMaxBytes: Long = MergeApply.BroadcastDeltaMaxBytes

  /** The events of delta `files` (written under `numBuckets`, the bucket
    * count of the snapshot they belong to) as (repo, path, op, seq, after)
    * — the one delta-file read. The read schema is the merge of the schemas
    * the manifest entries recorded at write (the image struct may gain
    * fields across batches), built on the driver, and the files scan through
    * a [[ManifestFileIndex]]: no listing, no footer, and a pinned key keeps
    * only the files of its bucket. */
  def deltaEvents(table: LakeTable, files: Seq[DataFile], numBuckets: Int): DataFrame =
    table.manifestScan(numBuckets, files,
      SchemaBridge.asNullable(files.flatMap(_.eventSchema).distinct.reduce(SchemaBridge.merge)))
      .select(col("repo"), col("path"), col("op"), col("seq"), col("after"))

  /** The winning event per key across delta `files`. LWW over a SUBSET of
    * a snapshot's delta files is exact for the keys whose every delta file is
    * in the subset — max over a union commutes with partial maxima, so events
    * left in other files keep competing at read/fold time unchanged. */
  def deltaWinners(table: LakeTable, files: Seq[DataFile], numBuckets: Int): DataFrame =
    Dedup.lastWriterPerKey(deltaEvents(table, files, numBuckets))

  /** The buckets that hold delta events: the labels of the delta files'
    * manifest entries, metadata only. */
  def touchedBuckets(s: Snapshot): Set[Int] = s.deltaFiles.iterator.map(_.bucket).toSet

  /** `winners` with a guard that fails the query when a winner routes
    * outside `buckets` under `numBuckets` — a delta file whose label
    * disagrees with its rows. No extra job: the check rides the projection. */
  private[graft] def routedInto(winners: DataFrame, buckets: Set[Int], numBuckets: Int): DataFrame = {
    val bOf = LakeTable.bucketExpr(col("repo"), col("path"), numBuckets)
    winners.withColumn("seq", when(bOf.isin(buckets.toSeq.map(Int.box): _*), col("seq"))
      .otherwise(raise_error(concat(
        lit("MOR bucket labels: delta winner outside its files' labeled buckets, bucket="),
        bOf.cast("string")))))
  }

  /** Current rows of a MOR snapshot.
    *
    * '''Bucket pruning''': base files whose bucket holds NO delta backlog
    * (per [[touchedBuckets]]) never enter the join — they pass through as a
    * plain scan. Pruning trusts the delta files' bucket labels (written by
    * `LakeTable.writeFiles` from the rows themselves; rebucket refuses to
    * run while deltas exist), and because a silent mismatch would mean wrong
    * results, the pruned plan guards every delta winner ([[routedInto]]):
    * one routing outside the touched set fails the query. */
  def resolve(table: LakeTable, s: Snapshot,
      broadcastMaxBytes: Long = BroadcastDeltaMaxBytes): DataFrame = {
    val touched = touchedBuckets(s)
    val (joinFiles, passFiles) = s.files.partition(f => touched.contains(f.bucket))
    val joined = resolveOn(table, s, joinFiles, s.deltaFiles,
      Some(touched).filter(_ => passFiles.nonEmpty), broadcastMaxBytes)
    val resolved =
      if (passFiles.isEmpty) joined
      else joined.unionByName(withDeleted(s, table.readInternal(s, passFiles)))
    resolved.filter(!col(LakeTable.DeletedCol)).select(s.schema.columns.map(c => col(c.name)): _*)
  }

  /** `baseFiles` resolved against the winners of `deltaFiles` under `s`'s
    * current schema: its columns + `_seq` + `_deleted`, TOMBSTONES INCLUDED.
    * LWW over file subsets is exact for every key all of whose files are in
    * them; callers that pick subsets own that coverage (see [[ChangeFeed]]).
    * `guard`: the touched bucket set every winner must route into. */
  private[graft] def resolveOn(table: LakeTable, s: Snapshot,
      baseFiles: Seq[DataFile], deltaFiles: Seq[DataFile],
      guard: Option[Set[Int]] = None,
      broadcastMaxBytes: Long = BroadcastDeltaMaxBytes): DataFrame = {
    if (deltaFiles.isEmpty) return withDeleted(s, table.readInternal(s, baseFiles))
    val winners = deltaWinners(table, deltaFiles, s.numBuckets)
    val (binding, _) = ImageBinding.bind(s, ImageBinding.imageFields(winners))
    val d = guard.fold(winners)(routedInto(winners, _, s.numBuckets)).alias("d")
    val b = table.readInternal(s, baseFiles).alias("b")
    val dCol = (n: String) => col(s"d.$n")
    val bCol = (n: String) => col(s"b.$n")
    val keyCond = col("b.repo") === col("d.repo") && col("b.path") === col("d.path")
    if (deltaFiles.iterator.map(_.rows).sum <= MergeApply.BroadcastDeltaMaxRows &&
        deltaFiles.iterator.map(_.bytes).sum <= broadcastMaxBytes) {
      // the base keeps its scan partitioning (no exchange); full-outer is
      // decomposed into matched + insert residue like the COW merge's
      // broadcast-incremental strategy. Every matched row has a base row, so
      // its keys are the base's: a key filter above the read reaches the
      // base scan (and, through the join keys, the winners' delta scan).
      val matched = b.join(broadcast(d), keyCond, "left_outer")
        .select(ImageBinding.lwwColumns(s.schema, binding, dCol, Some(bCol), keysFromBase = true): _*)
      val inserts = d.join(b.select(bCol("repo"), bCol("path")), keyCond, "left_anti")
        .select(ImageBinding.lwwColumns(s.schema, binding, dCol, None): _*)
      matched.unionByName(inserts)
    } else b.join(d, keyCond, "full_outer")
      .select(ImageBinding.lwwColumns(s.schema, binding, dCol, Some(bCol)): _*)
  }

  /** Internal rows with a non-null `_deleted`, as [[resolveOn]] returns them. */
  private def withDeleted(s: Snapshot, internal: DataFrame): DataFrame = internal.select(
    (s.schema.columns.map(c => col(c.name)) :+ col(LakeTable.SeqCol) :+
      coalesce(col(LakeTable.DeletedCol), lit(false)).as(LakeTable.DeletedCol)): _*)
}
