package graft.ingest

import graft.lake.{ChangeFeed, LakeTable, MorRead, TableSchema}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental downstream materialization — the medallion (bronze → silver)
  * shape: a DERIVED LakeTable kept in sync with a source LakeTable by
  * consuming the source's [[ChangeFeed]], never the upstream changelog and
  * never a source rescan (except the one-time bootstrap of a brand-new
  * destination, which reads the source's CURRENT state once — cheaper and
  * retention-independent vs feeding the whole history).
  *
  * Each `sync` reads the net changes in `(cursor, srcHead]` and applies them
  * through the ordinary ingest merge ([[Ingest.applyBatch]]), so the derived
  * table gets the engine's full machinery for free: LWW, tombstones,
  * dead-letters, lineage, snapshot isolation — and its own change feed, so
  * chains compose (bronze → silver → gold).
  *
  * Exactly-once without new machinery: the batch is applied with
  * `batchId = srcHead VERSION`, and the chain cursor IS the destination's
  * committed batchId — a re-run of the same sync is the batchId fence's
  * exact no-op, and a crash between feed read and commit re-syncs from the
  * old cursor (the feed is deterministic over retained snapshots). Change
  * seqs ride through as the LWW seq, so overlapping windows converge. If the
  * cursor's snapshot has been expired ([[graft.lake.Maintenance.expireSnapshots]])
  * the sync fails with a clear error — re-bootstrap into a fresh destination.
  *
  * Net-change events are applied as upserts (`insert`) and deletes: the feed
  * has no true before-image for updates (net window semantics), and the
  * merge treats insert/update identically (keyed upsert) — so no synthetic
  * before-image is ever fabricated. Deletes DO carry their real pre-image.
  *
  * The destination belongs to its chain: mixing direct ingest into a chained
  * table would fight over the batchId fence (same contract as the
  * reference's one-rule-one-sink pairing, /root/reference/rules/factory.go).
  *
  * `rowFilter` derives a SUBSET table. Filter on change-immutable columns
  * (the key) for exact subset semantics; filtering on mutable columns has
  * the usual streaming-filter caveat (a row that LEAVES the predicate stops
  * updating rather than disappearing).
  */
object ChainApply {

  final case class ChainResult(
      fromVersion: Long, toVersion: Long, applied: Long, deadLetters: Long)

  /** One chain sync: apply the source's net changes since the last sync.
    * No-op (and cheap — two snapshot reads) when the source hasn't moved. */
  def sync(
      src: LakeTable, dst: LakeTable,
      rowFilter: Column = lit(true),
      cfg: Ingest.IngestConfig = Ingest.IngestConfig()): ChainResult = {
    val head = src.refresh()
    val to = head.version
    val from = math.max(dst.refresh().committedBatchId, 0L)
    if (to <= from) return ChainResult(from, to, 0L, 0L)

    evolveToMatch(src, dst, head.schema)

    // a BRAND-NEW destination bootstraps from the source's current state:
    // one pruned-free read of head (rows keep their real `_seq` for LWW), no
    // dependence on v0..from snapshot retention, and strictly less IO than a
    // (0, to] feed (which reads every added file of the whole history twice)
    val feed: DataFrame =
      if (from == 0L) {
        MorRead.resolveOn(src, head, head.files, head.deltaFiles)
          .filter(!col("_deleted"))
          .withColumn(ChangeFeed.OpColName, lit("insert"))
          .drop("_deleted")
      } else {
        try ChangeFeed.changesBetween(src, from, to)
        catch {
          case e: java.nio.file.NoSuchFileException => throw new IllegalStateException(
            s"chain cursor $from was expired on the source (snapshot retention); " +
              "re-bootstrap this chain into a FRESH destination table", e)
        }
      }
    val filtered = feed.filter(rowFilter)

    // every feed column except the classification + seq is image payload
    val dataCols = filtered.columns.filter(n => n != ChangeFeed.OpColName && n != "_seq")
    val img = struct(dataCols.map(col): _*)
    // null seq = a tombstone the window EXPIRED; the source head's maxSeq is
    // a safe LWW stamp (≥ every seq this key saw in the window, < every seq
    // any later window can deliver).
    //
    // ASSUMPTION (ADVICE r6, documented contract): seqs are globally ordered
    // across source partitions — a later window never DELIVERS a seq ≤ this
    // head's maxSeq. The engine's changelog satisfies this (seq is the log's
    // global offset). Under a multi-partition source without that guarantee,
    // a legitimate late event with seq in (tombstoneHorizon, maxSeq] would
    // win LWW at the source but lose to this synthetic stamp at the
    // destination; such deployments must stamp with the compaction's expiry
    // horizon instead (recorded at compact time) — not maxSeq.
    val seq = coalesce(col("_seq"), lit(head.maxSeq))
    val opC = col(ChangeFeed.OpColName)
    val batch = filtered.select(
      lit(0).cast("int").as("partition"),
      seq.as("offset"),
      seq.as("seq"),
      lit(null).cast("timestamp").as("ts"),
      // net changes apply as upserts + deletes (see scaladoc): no fabricated
      // before-image; deletes carry their REAL pre-image
      when(opC === "delete", lit("delete")).otherwise(lit("insert")).as("op"),
      col("repo"), col("path"),
      when(opC === "delete", img).as("before"),
      when(opC =!= "delete", img).as("after"),
      lit(null).cast(graft.model.Schemas.ddlOp).as("ddl"))

    // applyBatch scans its input 2-3× (stats, dedup, write) — cheap for a
    // parquet micro-batch, wasteful for the feed's join DAG. Materialize the
    // WINDOW batch (O(window), safe); leave the bootstrap's plain parquet
    // scan lazy (O(state) storage would not be — rescans are cheap there).
    val applied = if (from == 0L) batch else batch.localCheckpoint(true)
    val bm = Ingest.applyBatch(dst, applied, batchId = to, cfg)
    ChainResult(from, to, bm.eventsApplied, bm.deadLetters)
  }

  /** Schema catch-up BEFORE the batch, rename-aware: a source column missing
    * from the destination BY NAME is first matched against the source's own
    * schema HISTORY (same column id, older name) — if the destination holds
    * one of the historical names, this is a rename the destination must
    * follow (adding a fresh column instead would silently null out every row
    * not re-delivered after the rename). Widenings follow in place; truly
    * new columns are added. */
  private def evolveToMatch(
      src: LakeTable, dst: LakeTable, srcSchema: TableSchema): Unit = {
    val history = src.snapshot.schemas
    srcSchema.columns.foreach { c =>
      dst.schema.find(c.name) match {
        case Some(dc) if dc.dataType != c.dataType &&
            TableSchema.canWiden(dc.dataType, c.dataType) =>
          dst.evolveSchema(_.widenType(c.name, c.dataType)); ()
        case Some(_) => ()
        case None =>
          val formerName = history.reverseIterator
            .flatMap(_.columns.find(_.id == c.id).map(_.name))
            .find(n => n != c.name && dst.schema.find(n).isDefined)
          formerName match {
            case Some(old) =>
              dst.evolveSchema(_.renameColumn(old, c.name))
              // a widen RIDING the same window as the rename (add→widen→
              // rename chains): follow it now, or this batch's wider values
              // would cast down into the narrower destination column
              val dc = dst.schema.find(c.name).get
              if (dc.dataType != c.dataType &&
                  TableSchema.canWiden(dc.dataType, c.dataType)) {
                dst.evolveSchema(_.widenType(c.name, c.dataType)); ()
              }
            case None => dst.evolveSchema(_.addColumn(c.name, c.dataType)); ()
          }
      }
    }
  }
}
