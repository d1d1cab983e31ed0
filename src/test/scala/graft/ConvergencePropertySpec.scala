package graft

import graft.gen.{ChangelogGen, GenConfig, Oracle}
import graft.ingest.{Dedup, Ingest, MergeApply}
import graft.lake.LakeTable
import graft.model.ChangeEvent
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Convergence properties, layered by delivery contract:
  *
  *  1. Ingest level (fence engaged): ANY in-order batching of the log, plus
  *     re-delivery of any suffix, converges — the fence requires per-partition
  *     ordered delivery, which is what Structured Streaming / binlog / Kafka
  *     give (the reference's contract too: single canal thread,
  *     /root/reference/cobra/handler.go:77-101).
  *
  *  2. Merge level (no fence): batches applied in ARBITRARY order, with
  *     duplication, still converge — tombstoned LWW on `seq` is commutative
  *     and idempotent. This is the engine-level fix for the reference's
  *     worker-pool reordering hazard (SURVEY §4.3.2).
  */
class ConvergencePropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cfg = GenConfig(seed = 23L, nEvents = 1200L, nRepos = 8,
    pathsPerRepo = 6, nPartitions = 2, contentLen = 40,
    pInsert = 0.45, pUpdate = 0.25) // 30% deletes: stress tombstones
  private lazy val events: Vector[ChangeEvent] = ChangelogGen.eventsLocal(cfg).toVector
  private lazy val oracle = Oracle.contentSha(Oracle.replay(events))
    .map { case ((r, p), (sha, seq)) => (r, p, sha, seq) }.toSet

  private def tableState(table: LakeTable): Set[(String, String, String, Long)] =
    table.readAllInternal()
      .filter(!col("_deleted"))
      .select(col("repo"), col("path"), sha2(col("content"), 256), col("_seq"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet

  test("ingest level: any in-order batching + suffix re-delivery converges") {
    import spark.implicits._
    for (trial <- 1 to 3) {
      val rnd = new Random(1000L + trial)
      val cuts = List.fill(1 + rnd.nextInt(6))(1 + rnd.nextInt(events.length - 1))
      val suffixStart = rnd.nextInt(events.length)
      val bounds = (0 +: cuts.distinct.sorted :+ events.length).distinct
      val batches = bounds.sliding(2).map { case Seq(a, b) => events.slice(a, b) }.toVector
      val table = LakeTable.create(spark, TestSpark.tmpDir("graft-prop1"), numBuckets = 4)
      batches.foreach(b => Ingest.applyBatch(table, b.toDS().toDF()))
      // at-least-once: some suffix of the log arrives again
      Ingest.applyBatch(table, events.drop(suffixStart).toDS().toDF())
      assert(tableState(table) === oracle, s"trial $trial (cuts=$cuts suffix=$suffixStart)")
    }
  }

  test("merge level: arbitrary batch ORDER + duplication converges (LWW + tombstones)") {
    import spark.implicits._
    for (trial <- 1 to 3) {
      val rnd = new Random(2000L + trial)
      val cuts = List.fill(2 + rnd.nextInt(4))(1 + rnd.nextInt(events.length - 1))
      val bounds = (0 +: cuts.distinct.sorted :+ events.length).distinct
      val batches = bounds.sliding(2).map { case Seq(a, b) => events.slice(a, b) }.toVector
      val withDup = batches :+ batches(rnd.nextInt(batches.length))
      val shuffled = rnd.shuffle(withDup)
      val table = LakeTable.create(spark, TestSpark.tmpDir("graft-prop2"), numBuckets = 4)
      shuffled.foreach { b =>
        MergeApply.merge(table, Dedup.lastWriterPerKey(
          b.toDS().toDF().filter(col("op") =!= "ddl")), Map.empty)
      }
      assert(tableState(table) === oracle, s"trial $trial (cuts=$cuts)")
    }
  }

  test("merge level under FILE-PRUNED COW: tiny files + forced strategy mix still converge") {
    import spark.implicits._
    for (trial <- 1 to 2) {
      val rnd = new Random(3000L + trial)
      val cuts = List.fill(3 + rnd.nextInt(4))(1 + rnd.nextInt(events.length - 1))
      val bounds = (0 +: cuts.distinct.sorted :+ events.length).distinct
      val batches = bounds.sliding(2).map { case Seq(a, b) => events.slice(a, b) }.toVector
      val withDup = batches :+ batches(rnd.nextInt(batches.length))
      val shuffled = rnd.shuffle(withDup)
      // targetFileRows=16 → many small files per bucket, so every merge does
      // real key-range pruning; alternate the strategy chooser via the hint:
      // deltaRowsHint=-1 forces the shuffle path, a tiny hint with a large
      // base allows broadcast — convergence must be strategy-independent
      val table = LakeTable.create(spark, TestSpark.tmpDir("graft-prop3"),
        numBuckets = 4, targetFileRows = 16L)
      shuffled.zipWithIndex.foreach { case (b, i) =>
        val delta = Dedup.lastWriterPerKey(b.toDS().toDF().filter(col("op") =!= "ddl"))
        val sel = MergeApply.selectFiles(table, delta)
        val forced = if (i % 2 == 0) sel.copy(deltaRowsHint = -1L) else sel
        MergeApply.merge(table, delta, Map.empty, selection = Some(forced))
      }
      assert(tableState(table) === oracle, s"trial $trial (cuts=$cuts)")
      // the REAL manifest invariant: every key lives in exactly one file
      // (ranges MAY overlap after multi-branch merges — selection over-selects
      // soundly; pruning quality, not correctness, degrades until compaction)
      val dupKeys = table.readAllInternal()
        .groupBy(col("repo"), col("path")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).count()
      assert(dupKeys === 0L, "a key must never appear in two live files")
      // compaction restores the disjoint sorted-run layout
      graft.lake.Maintenance.compact(table, force = true)
      table.snapshot.files.groupBy(_.bucket).foreach { case (bkt, fs) =>
        fs.sortBy(_.minKey).sliding(2).foreach {
          case Seq(x, y) => assert(x.maxKey < y.minKey, s"overlap in bucket $bkt after compaction")
          case _ => ()
        }
      }
      assert(tableState(table) === oracle, s"trial $trial post-compaction")
    }
  }

  test("MOR level: any in-order batching + interleaved folds + suffix re-delivery converges") {
    import spark.implicits._
    val oracleSha = oracle.map { case (r, p, sha, _) => (r, p, sha) }
    for (trial <- 1 to 3) {
      val rnd = new Random(4000L + trial)
      val cuts = List.fill(1 + rnd.nextInt(6))(1 + rnd.nextInt(events.length - 1))
      val bounds = (0 +: cuts.distinct.sorted :+ events.length).distinct
      val batches = bounds.sliding(2).map { case Seq(a, b) => events.slice(a, b) }.toVector
      val table = LakeTable.create(spark, TestSpark.tmpDir("graft-prop-mor"), numBuckets = 4)
      val mor = Ingest.IngestConfig(morMode = true)
      batches.foreach { b =>
        Ingest.applyBatch(table, b.toDS().toDF(), cfg = mor)
        // random fold points, randomly FULL or PARTIAL (threshold drawn so
        // that sometimes only dense buckets fold, sometimes nothing folds
        // and the delta log just compacts/no-ops) — every mix must converge
        if (rnd.nextInt(3) == 0) {
          graft.ingest.Mor.fold(table,
            minEventsPerBucket = Seq(0L, 5L, 50L)(rnd.nextInt(3)))
          ()
        }
      }
      // at-least-once: some suffix of the log arrives again as MOR appends
      Ingest.applyBatch(table, events.drop(rnd.nextInt(events.length)).toDS().toDF(), cfg = mor)
      def liveSha = table.read()
        .select(col("repo"), col("path"), sha2(col("content"), 256))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      assert(liveSha === oracleSha, s"trial $trial read-resolution (cuts=$cuts)")
      graft.ingest.Mor.fold(table)
      assert(tableState(table) === oracle, s"trial $trial post-fold")
    }
  }

  test("sequential batching baseline") {
    import spark.implicits._
    val table = LakeTable.create(spark, TestSpark.tmpDir("graft-prop0"), numBuckets = 4)
    events.grouped(300).foreach(b => Ingest.applyBatch(table, b.toDS().toDF()))
    assert(tableState(table) === oracle)
  }
}
