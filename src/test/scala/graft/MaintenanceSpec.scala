package graft

import graft.consume.{ConsumerRegistry, FileConsumer}
import graft.functions.Multimodal
import graft.gen.{ChangelogGen, GenConfig, Oracle}
import graft.ingest.Ingest
import graft.lake.{LakeTable, Maintenance}
import graft.log.ChangeLog
import graft.operators.NoPkApply
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("compaction merges files, GCs tombstones, preserves live rows; expiry prunes data") {
    val cfg = GenConfig(seed = 31L, nEvents = 6000L, nRepos = 20, pathsPerRepo = 10,
      nPartitions = 4, contentLen = 60, pInsert = 0.5, pUpdate = 0.2) // 30% deletes
    val logDir = TestSpark.tmpDir("graft-comp-log")
    val tableDir = TestSpark.tmpDir("graft-comp-table")
    ChangeLog.write(ChangelogGen.events(spark, cfg), logDir, segmentsPerPartition = 3)
    LakeTable.create(spark, tableDir, numBuckets = 8)
    // several batches => several rewrites => tombstones + multi-file buckets
    StreamIngest.run(spark, logDir, tableDir)
    val table = LakeTable.load(spark, tableDir)

    val before = liveSha(table)
    val hadTombstones = table.readAllInternal()
      .filter(col("_deleted")).count()
    assert(hadTombstones > 0, "test needs tombstones to GC")

    val res = Maintenance.compact(table, tombstoneHorizon = Some(Long.MaxValue), force = true)
    assert(res.tombstonesDropped === hadTombstones)
    assert(liveSha(table) === before, "compaction must not change live rows")
    assert(table.readAllInternal()
      .filter(col("_deleted")).count() === 0)

    // oracle check still holds post-compaction
    val oracle = Oracle.contentSha(Oracle.replay(ChangelogGen.eventsLocal(cfg)))
      .map { case ((r, p), (sha, _)) => (r, p, sha) }.toSet
    assert(liveSha(table) === oracle)

    // expiry: keep last 2 snapshots; older data dirs vanish; current reads fine
    val dataDirs = java.nio.file.Files.list(java.nio.file.Paths.get(tableDir, "data")).count()
    val expired = Maintenance.expireSnapshots(table, keep = 2, graceMs = 0L)
    assert(expired > 0)
    val dataDirsAfter = java.nio.file.Files.list(java.nio.file.Paths.get(tableDir, "data")).count()
    assert(dataDirsAfter < dataDirs, "unreferenced commit dirs must be deleted")
    assert(liveSha(LakeTable.load(spark, tableDir)) === oracle, "current snapshot intact")
  }

  private object StreamIngest {
    // explicit COW config: this spec exercises copy-on-write compaction /
    // tombstone GC (MOR is the streaming default since round 6; MOR deletes
    // live in delta files, not base tombstones)
    def run(spark: org.apache.spark.sql.SparkSession, logDir: String, tableDir: String): Unit =
      graft.streaming.StreamIngest.runAvailable(spark, logDir, tableDir,
        TestSpark.tmpDir("graft-comp-ckpt"), maxFilesPerTrigger = 4,
        cfg = Ingest.IngestConfig())
  }

  test("Main compact rewrites single-file buckets only to drop tombstones") {
    import graft.ingest.MergeApply
    import spark.implicits._
    val tableDir = TestSpark.tmpDir("graft-comp-cli")
    val table = LakeTable.create(spark, tableDir, numBuckets = 4)
    def rows(ids: Range, op: String, seq: Long) =
      ids.toDF("id").select(
        concat(lit("r"), col("id") % 3).as("repo"), concat(lit("f"), col("id")).as("path"),
        lit(op).as("op"), lit(seq).as("seq"),
        struct(concat(lit("r"), col("id") % 3).as("repo"), concat(lit("f"), col("id")).as("path"),
          lit("c0").as("commit"), lit("scala").as("lang"), lit(s"v$seq").as("content")).as("after"))
    MergeApply.merge(table, rows(0 until 200, "insert", 1L), Map.empty)
    MergeApply.merge(table, rows(0 until 200 by 3, "delete", 2L), Map.empty)
    // a broadcast merge writes the matched rewrite and the insert residue
    // as separate files of a bucket
    MergeApply.merge(table,
      rows(1 until 200 by 10, "update", 3L).union(rows(200 until 210, "insert", 3L)), Map.empty)
    assert(table.snapshot.files.groupBy(_.bucket).values.exists(_.size > 1),
      "fixture: a bucket with several files")
    val expected = liveSha(table)
    def compactCli(args: String*): graft.lake.Snapshot = {
      graft.app.Main.dispatch(spark, graft.app.Main.cliConfig(Map.empty), ("compact" +: args).toArray)
      LakeTable.load(spark, tableDir).snapshot
    }
    val first = compactCli(tableDir)
    assert(first.version === table.snapshot.version + 1, "multi-file buckets compact")
    assert(first.files.groupBy(_.bucket).values.forall(_.size == 1))
    val second = compactCli(tableDir)
    assert(second.version === first.version, "a second compact without a horizon commits nothing")
    val tombstones = LakeTable.load(spark, tableDir).readAllInternal().filter(col("_deleted")).count()
    assert(tombstones > 0)
    val withHorizon = compactCli(tableDir, Long.MaxValue.toString)
    assert(withHorizon.version === first.version + 1)
    assert(withHorizon.metrics("tombstonesExpired") === tombstones)
    val after = LakeTable.load(spark, tableDir)
    assert(after.readAllInternal().filter(col("_deleted")).count() === 0)
    assert(liveSha(after) === expected)
  }

  private def liveSha(table: LakeTable): Set[(String, String, String)] =
    table.read().select(col("repo"), col("path"), sha2(col("content"), 256))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("expiry never deletes live flat MOR delta commit dirs (graceMs=0)") {
    import graft.ingest.MergeApply
    import spark.implicits._
    val tableDir = TestSpark.tmpDir("graft-gc-mor")
    val table = LakeTable.create(spark, tableDir, numBuckets = 4)
    def delta(ids: Seq[Int], op: String, seqBase: Long) =
      ids.toDF("id").select(
        concat(lit("r"), col("id") % 3).as("repo"),
        concat(lit("f"), col("id")).as("path"),
        lit(op).as("op"), (col("id") + seqBase).as("seq"),
        struct(concat(lit("r"), col("id") % 3).as("repo"),
          concat(lit("f"), col("id")).as("path"),
          lit("c0").as("commit"), lit("scala").as("lang"),
          concat(lit("v"), col("id") + seqBase).as("content")).as("after"))
    MergeApply.merge(table, delta(0 until 40, "insert", 0L), Map.empty) // v1: base
    MergeApply.appendDelta(table, delta(0 until 10, "update", 100L), Map.empty) // v2: flat deltas
    table.commit(Set.empty, Seq.empty, Map(0 -> 1L), Map.empty) // v3: fence-only
    val expected = liveSha(table)
    assert(table.snapshot.deltaFiles.nonEmpty, "test needs live flat delta files")
    val deltaCommitDirs = table.snapshot.deltaFiles
      .map(f => java.nio.file.Paths.get(tableDir, "data")
        .relativize(java.nio.file.Paths.get(table.resolve(f.path))).getName(0).toString)
      .toSet
    Maintenance.expireSnapshots(table, keep = 2, graceMs = 0L)
    deltaCommitDirs.foreach { d =>
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(tableDir, "data", d)),
        s"live MOR delta commit dir $d must survive expiry")
    }
    assert(liveSha(LakeTable.load(spark, tableDir)) === expected,
      "MOR resolution must still see all delta rows after expiry")
  }

  test("ad-hoc lineage is per-writer (UUID files) and the report aggregates across them") {
    import spark.implicits._
    val tableDir = TestSpark.tmpDir("graft-lineage-writers")
    val table = LakeTable.create(spark, tableDir, numBuckets = 4)
    // writer 1: a real ad-hoc batch (batchId < 0 → per-writer adhoc file)
    val cfg = GenConfig(seed = 77L, nEvents = 40L, nRepos = 4, pathsPerRepo = 4,
      nPartitions = 2, contentLen = 30)
    Ingest.applyBatch(table, ChangelogGen.events(spark, cfg).toDF()) // batchId = -1
    // writer 2: simulate ANOTHER process's ad-hoc file (its own UUID name)
    val dir = java.nio.file.Paths.get(tableDir, "_lineage")
    java.nio.file.Files.writeString(dir.resolve("adhoc-deadbeef.jsonl"),
      """{"batchId":-1,"snapshotVersion":99,"partition":-1,"maxOffset":-1,"eventsSeen":777,""" +
        """"eventsApplied":777,"tombstones":0,"conflictsLww":0,"deadLetters":0}""" + "\n")
    val files = LakeTable.listDir(dir).map(_.getFileName.toString)
    assert(files.exists(_.startsWith("adhoc-")) && files.size >= 2,
      s"each ad-hoc writer appends to its OWN uuid file, got $files")
    // the lineage reader aggregates over the whole directory — both writers
    val lin = Ingest.lineage(table)
    assert(lin.filter(col("eventsSeen") === 777L).count() === 1, "second writer's line visible")
    assert(lin.filter(col("eventsSeen") === 40L).count() === 1, "first writer's line visible")
  }

  test("no-PK fallback: update/delete match the whole before-image") {
    import spark.implicits._
    val state = Seq(
      ("r1", "a", 1), ("r1", "a", 1), // duplicate rows — no PK!
      ("r2", "b", 2)).toDF("x", "y", "z")
    val events = Seq(
      // update matching BOTH duplicate rows -> both become the after-image
      ("update", 1L, Some(("r1", "a", 1)), Some(("r1", "A", 9))),
      // delete by full image
      ("delete", 2L, Some(("r2", "b", 2)), None),
      // plain insert
      ("insert", 3L, None, Some(("r3", "c", 3)))
    ).toDF("op", "seq", "before", "after")
      .select(col("op"), col("seq"),
        col("before").cast("struct<x:string,y:string,z:int>").as("before"),
        col("after").cast("struct<x:string,y:string,z:int>").as("after"))
    val out = NoPkApply.applyAll(state, events)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSeq.sorted
    assert(out === Seq(("r1", "A", 9), ("r1", "A", 9), ("r3", "c", 3)))
  }

  test("consumer registry: transfer→solve fan-out; a failing consumer never stops the batch") {
    import spark.implicits._
    val dir = TestSpark.tmpDir("graft-consumers")
    val reg = new ConsumerRegistry
    reg.register("files", () => new FileConsumer("files", dir))
    reg.register("boom", () => new graft.consume.Consumer {
      val name = "boom"
      def solve(p: org.apache.spark.sql.DataFrame): Unit = throw new RuntimeException("sink down")
    })
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    reg.fanOut(batch)
    assert(spark.read.parquet(s"$dir/files").count() === 2)
    assert(reg.lastFailures.keySet === Set("boom"))
  }

  test("multimodal: real container decode (PPM/BMP/WAV) round-trips encode exactly") {
    // direct encode→decode identity on known parameters
    val ppm = Multimodal.decode(1L, Multimodal.encodePpm(33, 47, 5L))
    assert(ppm.kind === "image_ppm" && ppm.width === Some(33) && ppm.height === Some(47) &&
      ppm.channels === Some(3))
    assert(ppm.byte_len === ("P6\n33 47\n255\n".length + 33 * 47 * 3).toLong)
    val bmp = Multimodal.decode(2L, Multimodal.encodeBmp(21, 10, 5L))
    assert(bmp.kind === "image_bmp" && bmp.width === Some(21) && bmp.height === Some(10) &&
      bmp.channels === Some(3))
    assert(bmp.byte_len === (54 + ((21 * 3 + 3) / 4) * 4 * 10).toLong, "BMP row padding")
    val wav = Multimodal.decode(3L, Multimodal.encodeWav(2, 8300, 100L, 5L))
    assert(wav.kind === "audio_wav" && wav.channels === Some(2) &&
      wav.sample_rate === Some(8300) && wav.n_samples === Some(100L))
    // malformed payloads degrade to kind=unknown, never throw
    assert(Multimodal.decode(4L, Array[Byte](1, 2, 3)).kind === "unknown")
    assert(Multimodal.decode(5L, "P6\nnonsense".getBytes).kind === "unknown")

    // distributed: partition-wise decode over the binary column
    val media = Multimodal.genMedia(spark, 200)
    val feats = Multimodal.extractFeatures(media)
    assert(feats.count() === 200)
    assert(feats.filter(col("kind") === "unknown").count() === 0)
    val r = feats.filter(col("media_id") === 6L).collect()(0) // 6 % 3 == 0 → ppm
    assert(r.kind === "image_ppm" && r.width.get >= 16 && r.width.get < 64)
    // deterministic: same seed ⇒ same features
    val again = Multimodal.extractFeatures(Multimodal.genMedia(spark, 200))
      .filter(col("media_id") === 6L).collect()(0)
    assert(r === again)
    val stats = Multimodal.sizeStats(media.toDF())
    assert(stats.count() === 3) // ppm/bmp/wav
  }
}
