package graft

import graft.gen.{ChangelogGen, GenConfig, Oracle}
import graft.ingest.{Ingest, MergeApply, Mor}
import graft.lake.{ChangeFeed, LakeTable, Maintenance}
import graft.model.{ChangeEvent, Ops}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Change data feed: `ChangeFeed.changesBetween(v1, v2)` must equal the
  * classification a sequential oracle derives from the window's events —
  * for COW windows, MOR windows with live deltas, windows containing
  * compaction/fold no-op commits, tombstone-expiring compactions, and
  * schema evolution — and must never read base files outside the candidate
  * key neighborhoods (poisoned-file case).
  */
class ChangeFeedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cfg = GenConfig(seed = 77L, nEvents = 12000L, nRepos = 40,
    pathsPerRepo = 12, skew = 3.0, nPartitions = 4, contentLen = 90)

  /** (key → (op, seqOpt, shaOfCarriedContent)) the feed must return for the
    * window (splitSeq, end]; delete rows carry the PRE-image sha. */
  private def expectedChanges(events: Seq[ChangeEvent], split: Long)
      : Map[(String, String), (String, Option[Long], String)] = {
    val st1 = Oracle.replay(events.filter(_.seq <= split)).rows.toMap
    val st2 = Oracle.replay(events).rows.toMap
    val winner2 = events.filter(e => Ops.rowOps.contains(e.op))
      .groupBy(e => (e.repo, e.path)).view.mapValues(_.maxBy(_.seq)).toMap
    val keys = st1.keySet ++ st2.keySet
    keys.flatMap { k =>
      (st1.get(k), st2.get(k)) match {
        case (None, Some(n)) =>
          Some(k -> ("insert", Some(n.seq), Oracle.sha256Hex(n.row.content)))
        case (Some(o), Some(n)) if n.seq != o.seq =>
          Some(k -> ("update", Some(n.seq), Oracle.sha256Hex(n.row.content)))
        case (Some(o), None) =>
          Some(k -> ("delete", Some(winner2(k).seq), Oracle.sha256Hex(o.row.content)))
        case _ => None
      }
    }.toMap
  }

  private def feedRows(df: DataFrame): Map[(String, String), (String, Option[Long], String)] =
    df.select(col("repo"), col("path"), col(ChangeFeed.OpColName),
        col("_seq"), sha2(col("content"), 256).as("sha"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getString(2), if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getString(4)))
      .toMap

  /** Replay in two halves at `split`; returns (table, v1, v2, events). */
  private def twoPhase(morMode: Boolean, c: GenConfig = cfg)
      : (LakeTable, Long, Long, Seq[ChangeEvent], Long) = {
    val dir = TestSpark.tmpDir("graft-cdf")
    val events = ChangelogGen.eventsLocal(c)
    val split = c.nEvents / 2
    val table = LakeTable.create(spark, dir, numBuckets = 16)
    val log = ChangelogGen.events(spark, c).toDF()
    val icfg = Ingest.IngestConfig(morMode = morMode)
    Ingest.replayLog(table, log.filter(col("seq") <= split), icfg)
    val v1 = table.snapshot.version
    Ingest.replayLog(table, log.filter(col("seq") > split), icfg)
    val v2 = table.snapshot.version
    (table, v1, v2, events, split)
  }

  test("COW window matches the sequential-oracle classification") {
    val (table, v1, v2, events, split) = twoPhase(morMode = false)
    val got = feedRows(ChangeFeed.changesBetween(table, v1, v2))
    val want = expectedChanges(events, split)
    assert(got.size === want.size,
      s"row count: got ${got.size} want ${want.size}")
    want.foreach { case (k, w) =>
      assert(got.contains(k), s"missing change for $k: want $w")
      assert(got(k) === w, s"mismatch at $k")
    }
    // all three ops must actually occur for the case to mean anything
    assert(Set("insert", "update", "delete").subsetOf(got.values.map(_._1).toSet))
    // empty window and same-version window
    assert(ChangeFeed.changesBetween(table, v2, v2).isEmpty)
  }

  test("MOR window with live unfolded deltas matches; fold adds zero changes") {
    val (table, v1, v2, events, split) = twoPhase(morMode = true)
    assert(table.snapshot.deltaFiles.nonEmpty, "fixture must have live deltas at v2")
    val want = expectedChanges(events, split)
    assert(feedRows(ChangeFeed.changesBetween(table, v1, v2)) === want)

    Mor.fold(table)
    val v3 = table.snapshot.version
    assert(v3 > v2)
    assert(ChangeFeed.changesBetween(table, v2, v3).isEmpty,
      "a fold commit is not a change")
    assert(ChangeFeed.changesBetweenWithStats(table, v2, v3)._2.rowsInScope === 0,
      "a fold-only window is answered from snapshot metadata")
    assert(feedRows(ChangeFeed.changesBetween(table, v1, v3)) === want)
  }

  test("MOR window touching one bucket reads only that bucket's delta files") {
    import spark.implicits._
    val table = LakeTable.create(spark, TestSpark.tmpDir("graft-cdf-bucket"), numBuckets = 8)
    def rows(ids: Seq[Int], seq: Long) = ids.toDF("id").select(
      concat(lit("r"), col("id") % 3).as("repo"), concat(lit("f"), col("id")).as("path"),
      lit(if (seq == 1L) "insert" else "update").as("op"), lit(seq).as("seq"),
      struct(concat(lit("r"), col("id") % 3).as("repo"), concat(lit("f"), col("id")).as("path"),
        lit("c0").as("commit"), lit("scala").as("lang"), concat(lit("v"), lit(seq)).as("content")).as("after"))
    MergeApply.appendDelta(table, rows(0 until 200, 1L), Map.empty)
    val v1 = table.snapshot.version
    val b = spark.range(200).select(table.bucketExpr(concat(lit("r"), col("id") % 3),
      concat(lit("f"), col("id"))).as("b")).as[Int].head()
    val inB = spark.range(200).select(col("id").cast("int").as("id"))
      .filter(table.bucketExpr(concat(lit("r"), col("id") % 3), concat(lit("f"), col("id"))) === b)
      .as[Int].collect().toSeq.take(5)
    MergeApply.appendDelta(table, rows(inB, 2L), Map.empty)
    val (s1, s2) = (table.snapshotAt(v1), table.snapshot)
    assert(s1.deltaFiles.map(_.bucket).distinct.size === 8, "fixture: every bucket holds deltas at v1")

    val (feed, stats) = ChangeFeed.changesBetweenWithStats(table, v1, s2.version)
    assert(feed.select(col("path"), col(ChangeFeed.OpColName)).as[(String, String)].collect().toSet ===
      inB.map(id => (s"f$id", "update")).toSet)
    assert(stats.addedDeltaFiles === s2.deltaFiles.size - s1.deltaFiles.size)
    assert(stats.oldFilesRead === s1.deltaFiles.count(_.bucket == b) &&
      stats.newFilesRead === s2.deltaFiles.count(_.bucket == b),
      s"the feed must read only bucket $b's delta files: $stats")
    assert(stats.newFilesRead < s2.deltaFiles.size)
  }

  test("compaction in the window adds zero changes; tombstone expiry falls back to removed files") {
    val (table, v1, v2, events, split) = twoPhase(morMode = false)
    val want = expectedChanges(events, split)

    // plain compaction: rewrites files, keeps tombstones — no new changes
    Maintenance.compact(table, force = true)
    val v3 = table.snapshot.version
    assert(ChangeFeed.changesBetween(table, v2, v3).isEmpty)
    assert(ChangeFeed.changesBetweenWithStats(table, v2, v3)._2.rowsInScope === 0,
      "a compaction-only window is answered from snapshot metadata")
    assert(feedRows(ChangeFeed.changesBetween(table, v1, v3)) === want)

    // tombstone-expiring compaction: deletes lose their trace in v4's files;
    // the cumulative tombstonesExpired metric must route the feed through the
    // REMOVED files so the deletes still surface (seq is gone with the stone)
    Maintenance.compact(table, tombstoneHorizon = Some(Long.MaxValue), force = true)
    val v4 = table.snapshot.version
    assert(table.snapshot.metrics.getOrElse("tombstonesExpired", 0L) > 0L,
      "fixture must actually expire tombstones")
    val got = feedRows(ChangeFeed.changesBetween(table, v1, v4))
    val wantExpired = want.map {
      case (k, ("delete", _, sha)) => k -> (("delete", None: Option[Long], sha))
      case other => other
    }
    assert(got === wantExpired)
  }

  test("MOR fold + delete + tombstone expiry in ONE window: the delete still surfaces") {
    // ADVICE r6 (medium): a key whose only from-version trace is an UNFOLDED
    // delta event, deleted and tombstone-expired inside the window, appears
    // in no added file and no removed BASE file — the feed must also union
    // candidate keys from the s1 delta files the window dropped.
    val (table, _, v2, events, _) = twoPhase(morMode = true)
    assert(table.snapshotAt(v2).files.isEmpty && table.snapshotAt(v2).deltaFiles.nonEmpty,
      "fixture: v2 must be delta-only (unfolded MOR)")
    val st2 = Oracle.replay(events).rows
    val (k, entry) = st2.find(_._2.row.content != null).get
    val maxSeq = events.iterator.map(_.seq).max
    val del = ChangeEvent(0, maxSeq + 1, maxSeq + 1, new java.sql.Timestamp(0L),
      Ops.Delete, k._1, k._2, Some(entry.row), None, None)
    import spark.implicits._
    Ingest.replayLog(table, Seq(del).toDS().toDF(), Ingest.IngestConfig(morMode = true))
    Mor.fold(table)
    Maintenance.compact(table, tombstoneHorizon = Some(Long.MaxValue), force = true)
    val vEnd = table.snapshot.version
    assert(table.snapshot.metrics.getOrElse("tombstonesExpired", 0L) > 0L,
      "fixture must actually expire tombstones")
    val got = feedRows(ChangeFeed.changesBetween(table, v2, vEnd))
    assert(got === Map(k ->
      (("delete", None: Option[Long], Oracle.sha256Hex(entry.row.content)))),
      "the fold+expire window must still surface the delete with its pre-image")
  }

  test("rebucket inside the window: dual-modulus pruning, zero phantom changes") {
    val (table, v1, v2, events, split) = twoPhase(morMode = false)
    val want = expectedChanges(events, split)
    Maintenance.rebucket(table, 32) // s2-side bucket count now differs from s1's
    val v3 = table.snapshot.version
    assert(table.snapshotAt(v3).numBuckets === 32 && table.snapshotAt(v1).numBuckets === 16)
    assert(ChangeFeed.changesBetween(table, v2, v3).isEmpty,
      "a rebucket commit is not a change")
    assert(ChangeFeed.changesBetweenWithStats(table, v2, v3)._2.rowsInScope === 0)
    assert(feedRows(ChangeFeed.changesBetween(table, v1, v3)) === want)
  }

  test("schema evolution inside the window: new column surfaces, pre-images project by id") {
    val c = cfg.copy(seed = 99L, nEvents = 8000L, ddlEvery = 1500L)
    val (table, v1, v2, events, split) = twoPhase(morMode = false, c)
    assert(table.snapshot.schema.columns.size > 5, "fixture must have evolved columns")
    val feed = ChangeFeed.changesBetween(table, v1, v2)
    // output is under v2's CURRENT schema
    val extra = table.snapshot.schema.columns.map(_.name).filterNot(
      Seq("repo", "path", "commit", "lang", "content").contains)
    extra.foreach(c => assert(feed.columns.contains(c), s"missing evolved column $c"))
    // classification still matches (content columns are never touched by gen DDL)
    assert(feedRows(feed) === expectedChanges(events, split))
  }

  test("retained window still serves after snapshot expiry; an expired from-version throws") {
    val (table, v1, v2, events, split) = twoPhase(morMode = false)
    Maintenance.expireSnapshots(table, keep = 2, graceMs = 0L) // keeps v1, v2; drops v0
    assert(feedRows(ChangeFeed.changesBetween(table, v1, v2)) ===
      expectedChanges(events, split), "retained window must be unaffected by expiry")
    intercept[Exception](ChangeFeed.changesBetween(table, 0L, v2))
  }

  test("old-version base files outside the candidate neighborhoods are never read") {
    // big first batch over many narrow files, tiny second batch over few keys
    val c = cfg.copy(seed = 5L, nEvents = 20000L, nRepos = 200, pathsPerRepo = 20)
    val dir = TestSpark.tmpDir("graft-cdf-prune")
    val events = ChangelogGen.eventsLocal(c)
    val split = c.nEvents - 20 // last 20 events only
    val table = LakeTable.create(spark, dir, numBuckets = 16, targetFileRows = 64)
    val log = ChangelogGen.events(spark, c).toDF()
    Ingest.replayLog(table, log.filter(col("seq") <= split))
    val v1 = table.snapshot.version
    val s1 = table.snapshotAt(v1)
    Ingest.replayLog(table, log.filter(col("seq") > split))
    val v2 = table.snapshot.version
    val s2 = table.snapshot

    // files of v1 that SURVIVED into v2 untouched, outside every added file's
    // key range: the feed must never open them — poison and find out
    val survived2 = s2.files.map(_.path).toSet
    val added = s2.files.filterNot(f => s1.files.map(_.path).toSet.contains(f.path))
    val untouched = s1.files.filter(f => survived2.contains(f.path) &&
      !added.exists(a => a.bucket == f.bucket && f.minKey <= a.maxKey && f.maxKey >= a.minKey))
    info(s"v1 files=${s1.files.size} v2 files=${s2.files.size} added=${added.size} " +
      s"survived=${s1.files.count(f => survived2.contains(f.path))} untouched=${untouched.size}")
    assert(untouched.size > 10, s"fixture must leave many prunable files, got ${untouched.size}")
    untouched.foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(table.resolve(f.path)),
        "poisoned: the change feed must never open this file".getBytes)
    }
    // sanity: the poison bites — a FULL read of v1 now fails
    intercept[Exception] {
      table.readInternal(s1, s1.files).agg(count(lit(1))).collect()
    }
    // ...but the pruned feed still answers, and correctly
    assert(feedRows(ChangeFeed.changesBetween(table, v1, v2)) ===
      expectedChanges(events, split))
  }
}
