package graft

import graft.gen.{ChangelogGen, GenConfig, Oracle}
import graft.ingest.{Ingest, Mor}
import graft.lake.{LakeTable, Maintenance}
import graft.log.ChangeLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.{CountDownLatch, TimeUnit}

/** Pins what one `Ingest.applyBatch` does, per batch shape: the Spark jobs it
  * launches, every `BatchMetrics` field, the snapshot metrics it commits and
  * the lineage lines it writes. A change to the apply pipeline may keep a job
  * count or lower it; any other difference fails here.
  */
class ApplyPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val gen = GenConfig(seed = 7L, nEvents = 4000L, nRepos = 20, pathsPerRepo = 20,
    skew = 2.0, nPartitions = 4, contentLen = 60)

  private def writeLog(cfg: GenConfig): String = {
    val dir = TestSpark.tmpDir("graft-pipe-log")
    ChangeLog.write(ChangelogGen.events(spark, cfg), dir, segmentsPerPartition = 2)
    dir
  }

  private final case class Outcome(jobs: Int, bm: Ingest.BatchMetrics,
      metricDeltas: Map[String, Long], lineage: Seq[String])

  /** Applies `batch` as batch `batchId` and records what it did. */
  private def applyOnce(table: LakeTable, batch: DataFrame, batchId: Long,
      cfg: Ingest.IngestConfig = Ingest.IngestConfig()): Outcome = {
    val before = table.refresh().metrics
    val (jobs, bm) = TestSpark.jobsDuring(Ingest.applyBatch(table, batch, batchId, cfg))
    val after = table.refresh().metrics
    val deltas = after.collect { case (k, v) if !before.get(k).contains(v) =>
      k -> (v - before.getOrElse(k, 0L)) }
    val lineage = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(
      table.dir, "_lineage", s"batch-$batchId.jsonl")).toArray.toSeq.map(_.toString)
    Outcome(jobs, bm, deltas, lineage)
  }

  private def check(got: Outcome, jobs: Int, bm: Ingest.BatchMetrics,
      metricDeltas: Map[String, Long], lineage: Seq[String]): Unit = {
    assert(got.jobs === jobs, "Spark jobs per batch")
    assert(got.bm === bm)
    assert(got.metricDeltas === metricDeltas)
    assert(got.lineage === lineage)
  }

  private def lineageLine(batchId: Long, version: Long, partition: Int, maxOffset: Long,
      seen: Long, applied: Long, tomb: Long, confl: Long, dl: Long): String =
    s"""{"batchId":$batchId,"snapshotVersion":$version,"partition":$partition,""" +
      s""""maxOffset":$maxOffset,"eventsSeen":$seen,"eventsApplied":$applied,""" +
      s""""tombstones":$tomb,"conflictsLww":$confl,"deadLetters":$dl}"""

  test("fresh COW batch without DDL") {
    val log = ChangeLog.readDF(spark, writeLog(gen))
    val table = LakeTable.create(spark, TestSpark.tmpDir("graft-pipe-fresh"), numBuckets = 8)
    val got = applyOnce(table, log, 0L)
    check(got, jobs = 5,
      Ingest.BatchMetrics(0, 4000, 0, 0, 0, 400, 44, 0, 0, 1),
      Map("eventsSeen" -> 4000, "deadLetters" -> 0, "batches" -> 1, "eventsApplied" -> 400,
        "upserts" -> 356, "tombstonesWritten" -> 44, "conflictsLww" -> 0,
        "duplicatesIgnored" -> 0, "noopUpdates" -> 0, "filesRewritten" -> 0,
        "unresolvedImageFields" -> 0),
      Seq(lineageLine(0, 1, -1, -1, 4000, 400, 44, 0, 0),
        lineageLine(0, 1, 0, 3999, 783, -1, -1, -1, -1),
        lineageLine(0, 1, 1, 3996, 925, -1, -1, -1, -1),
        lineageLine(0, 1, 2, 3998, 1486, -1, -1, -1, -1),
        lineageLine(0, 1, 3, 3997, 806, -1, -1, -1, -1)))
  }

  test("fresh COW batch with DDLs (the bulk-replay shape)") {
    val log = ChangeLog.readDF(spark, writeLog(gen.copy(ddlEvery = 1000L)))
    val table = LakeTable.create(spark, TestSpark.tmpDir("graft-pipe-ddl"), numBuckets = 8)
    val got = applyOnce(table, log, 0L)
    check(got, jobs = 5,
      Ingest.BatchMetrics(0, 4000, 0, 0, 0, 400, 44, 0, 4, 5),
      Map("eventsSeen" -> 4000, "deadLetters" -> 0, "batches" -> 1, "eventsApplied" -> 400,
        "upserts" -> 356, "tombstonesWritten" -> 44, "conflictsLww" -> 0,
        "duplicatesIgnored" -> 0, "noopUpdates" -> 0, "filesRewritten" -> 0,
        "unresolvedImageFields" -> 0),
      Seq(lineageLine(0, 5, -1, -1, 4000, 400, 44, 0, 0),
        lineageLine(0, 5, 0, 3999, 786, -1, -1, -1, -1),
        lineageLine(0, 5, 1, 3996, 923, -1, -1, -1, -1),
        lineageLine(0, 5, 2, 3998, 1485, -1, -1, -1, -1),
        lineageLine(0, 5, 3, 3997, 806, -1, -1, -1, -1)))
  }

  test("incremental COW batch on a table with files") {
    val log = ChangeLog.readDF(spark, writeLog(gen))
    val table = LakeTable.create(spark, TestSpark.tmpDir("graft-pipe-incr"), numBuckets = 8)
    Ingest.applyBatch(table, log.filter(col("seq") < 2000L), 0L)
    val got = applyOnce(table, log.filter(col("seq") >= 2000L), 1L)
    check(got, jobs = 6,
      Ingest.BatchMetrics(1, 2000, 0, 0, 0, 386, 44, 0, 0, 2),
      Map("eventsSeen" -> 2000, "batches" -> 1, "eventsApplied" -> 386, "upserts" -> 342,
        "tombstonesWritten" -> 44, "filesRewritten" -> 8),
      Seq(lineageLine(1, 2, -1, -1, 2000, 386, 44, 0, 0),
        lineageLine(1, 2, 0, 3999, 382, -1, -1, -1, -1),
        lineageLine(1, 2, 1, 3996, 474, -1, -1, -1, -1),
        lineageLine(1, 2, 2, 3998, 744, -1, -1, -1, -1),
        lineageLine(1, 2, 3, 3997, 400, -1, -1, -1, -1)))
  }

  test("MOR micro-batch with DDLs") {
    val log = ChangeLog.readDF(spark, writeLog(gen.copy(ddlEvery = 1000L)))
    val table = LakeTable.create(spark, TestSpark.tmpDir("graft-pipe-mor"), numBuckets = 8)
    val got = applyOnce(table, log, 0L, Ingest.IngestConfig(morMode = true))
    // eventsApplied/tombstonesWritten count live events before the per-batch
    // dedup; deltaEventsAppended counts what the delta files hold after it
    check(got, jobs = 2,
      Ingest.BatchMetrics(0, 4000, 0, 0, 0, 3996, 585, 0, 4, 5),
      Map("eventsSeen" -> 4000, "deadLetters" -> 0, "batches" -> 1, "eventsApplied" -> 3996,
        "tombstonesWritten" -> 585, "deltaEventsAppended" -> 400, "deltaFilesWritten" -> 1),
      Seq(lineageLine(0, 5, -1, -1, 4000, 3996, 585, 0, 0),
        lineageLine(0, 5, 0, 3999, 786, -1, -1, -1, -1),
        lineageLine(0, 5, 1, 3996, 923, -1, -1, -1, -1),
        lineageLine(0, 5, 2, 3998, 1485, -1, -1, -1, -1),
        lineageLine(0, 5, 3, 3997, 806, -1, -1, -1, -1)))
  }

  test("COW batch split at barrier DDLs, with a dead letter") {
    import spark.implicits._
    val repoRow = graft.model.Schemas.repoRow
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def rowEv(offset: Long, seq: Long, op: String, repo: String, path: String,
        content: String): DataFrame =
      Seq((offset, seq, op, repo, path, content)).toDF("offset", "seq", "op", "repo", "path", "content")
        .select(lit(0).as("partition"), col("offset"), col("seq"), lit(ts).as("ts"),
          col("op"), col("repo"), col("path"), lit(null).cast(repoRow).as("before"),
          struct(col("repo"), col("path"), lit("c0").as("commit"),
            lit("scala").as("lang"), col("content")).as("after"),
          lit(null).cast(graft.model.Schemas.ddlOp).as("ddl"))
    def renameEv(offset: Long, seq: Long, from: String, to: String): DataFrame =
      Seq((offset, seq)).toDF("offset", "seq")
        .select(lit(0).as("partition"), col("offset"), col("seq"), lit(ts).as("ts"),
          lit("ddl").as("op"), lit(null).cast("string").as("repo"),
          lit(null).cast("string").as("path"), lit(null).cast(repoRow).as("before"),
          lit(null).cast(repoRow).as("after"),
          struct(lit("rename_column").as("kind"), lit(from).as("column"),
            lit(to).as("newName"), lit(null).cast("string").as("fromType"),
            lit(null).cast("string").as("toType")).as("ddl"))
    // lang is an image field, so renaming it is a barrier: the batch applies
    // as rows 1-3, rename, row 5 (+ one invalid event that dead-letters)
    val batch = Seq(
      rowEv(0, 1, "insert", "r1", "p1", "v1"), rowEv(1, 2, "insert", "r2", "p2", "v2"),
      rowEv(2, 3, "bogus", "r3", "p3", "v3"),
      renameEv(3, 4, "lang", "language"),
      rowEv(4, 5, "insert", "r1", "p1", "v5")).reduce(_ union _)
    val table = LakeTable.create(spark, TestSpark.tmpDir("graft-pipe-barrier"), numBuckets = 4)
    val got = applyOnce(table, batch, 0L)
    check(got, jobs = 16,
      Ingest.BatchMetrics(0, 5, 1, 0, 0, 3, 0, 0, 1, 3),
      Map("eventsSeen" -> 5, "deadLetters" -> 1, "batches" -> 2, "eventsApplied" -> 3,
        "upserts" -> 3, "tombstonesWritten" -> 0, "conflictsLww" -> 0,
        "duplicatesIgnored" -> 0, "noopUpdates" -> 0, "filesRewritten" -> 1,
        "unresolvedImageFields" -> 0),
      Seq(lineageLine(0, 3, -1, -1, 5, 3, 0, 0, 1),
        lineageLine(0, 3, 0, 4, 5, -1, -1, -1, -1)))
  }

  test("a rebucket committing between a MOR append's write and its commit") {
    val cfg = gen.copy(seed = 11L)
    val log = ChangeLog.readDF(spark, writeLog(cfg))
    val dir = TestSpark.tmpDir("graft-pipe-rebucket")
    val table = LakeTable.create(spark, dir, numBuckets = 8)
    Ingest.applyBatch(table, log.filter(col("seq") < 2000L), 0L)
    assert(table.snapshot.deltaFiles.isEmpty && table.snapshot.files.nonEmpty)

    // The batch's only task parks in a UDF until the rebucket has committed,
    // so the append's files are written under the 8-bucket snapshot and its
    // commit lands on the 16-bucket one.
    ApplyPipelineSpec.started = new CountDownLatch(1)
    ApplyPipelineSpec.release = new CountDownLatch(1)
    val gate = udf { (s: Long) =>
      ApplyPipelineSpec.started.countDown()
      ApplyPipelineSpec.release.await(120, TimeUnit.SECONDS)
      s
    }.asNondeterministic()
    val batch = log.filter(col("seq") >= 2000L).coalesce(1).withColumn("seq", gate(col("seq")))
    @volatile var failure: Throwable = null
    val rebucketer = new Thread(() => {
      try {
        assert(ApplyPipelineSpec.started.await(120, TimeUnit.SECONDS), "write never started")
        Maintenance.rebucket(LakeTable.load(spark, dir), 16)
      } catch { case e: Throwable => failure = e }
      finally ApplyPipelineSpec.release.countDown()
    }, "pipe-rebucket")
    rebucketer.start()
    Ingest.applyBatch(table, batch, 1L, Ingest.IngestConfig(morMode = true))
    rebucketer.join(120000)
    assert(failure === null, s"rebucket failed: $failure")

    val snap = table.refresh()
    assert(snap.numBuckets === 16 && snap.metrics.get("rebuckets").contains(1L))
    assert(snap.committedBatchId === 1L && snap.deltaFiles.nonEmpty)
    assert(snap.flatDeltaHist === None,
      "a histogram counted under the old bucket layout must be recorded as unknown")
    Mor.fold(table)
    val oracle = Oracle.contentSha(Oracle.replay(ChangelogGen.eventsLocal(cfg)))
      .map { case ((r, p), (sha, _)) => (r, p, sha) }.toSet
    val got = table.read().select(col("repo"), col("path"), sha2(col("content"), 256))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got === oracle)
  }
}

object ApplyPipelineSpec {
  @volatile var started: CountDownLatch = new CountDownLatch(0)
  @volatile var release: CountDownLatch = new CountDownLatch(0)
}
