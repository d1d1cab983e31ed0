package graft

import graft.gen.{ChangelogGen, GenConfig, Oracle}
import graft.ingest.{Ingest, MergeApply, Mor}
import graft.lake.LakeTable
import graft.log.ChangeLog
import graft.streaming.StreamIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read mode (Hudi-MOR / Iceberg-v2 analog): micro-batches append
  * bucketed delta EVENT files (O(batch) write cost); reads resolve deltas
  * against base by LWW with the COW merge's exact column semantics;
  * `Mor.fold` compacts deltas back into base through the ordinary COW merge.
  *
  * The load-bearing property: ANY interleaving of COW merges, MOR appends,
  * folds, and stale replays must read identically to the pure-COW table.
  */
class MorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def shaSet(table: LakeTable): Set[(String, String, String)] =
    table.read()
      .select(col("repo"), col("path"), sha2(col("content"), 256))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  private val cfg = GenConfig(seed = 37L, nEvents = 10000L, nRepos = 25,
    pathsPerRepo = 10, nPartitions = 4, contentLen = 60)

  test("MOR read broadcast shape is byte-gated like the COW merge") {
    import spark.implicits._
    val tableDir = TestSpark.tmpDir("graft-mor-bytes")
    val table = LakeTable.create(spark, tableDir, numBuckets = 4)
    def rows(ids: Seq[Int], op: String, seqBase: Long) =
      ids.toDF("id").select(
        concat(lit("r"), col("id") % 3).as("repo"), concat(lit("f"), col("id")).as("path"),
        lit(op).as("op"), (col("id") + seqBase).as("seq"),
        struct(concat(lit("r"), col("id") % 3).as("repo"),
          concat(lit("f"), col("id")).as("path"), lit("c0").as("commit"),
          lit("scala").as("lang"), concat(lit("v"), col("id") + seqBase).as("content")).as("after"))
    MergeApply.merge(table, rows(0 until 50, "insert", 0L), Map.empty)
    MergeApply.appendDelta(table, rows(0 until 8, "update", 100L), Map.empty)
    val s = table.refresh()
    assert(s.deltaFiles.forall(_.bytes > 0L), "manifest must record delta file bytes")

    // few rows, under the row gate → broadcast shape by default
    val bPlan = graft.lake.MorRead.resolve(table, s).queryExecution.executedPlan.toString
    assert(bPlan.contains("BroadcastHashJoin"), s"expected broadcast shape:\n$bPlan")
    // same deltas with the byte gate forced low (a stand-in for few-row/
    // large-blob deltas, which would broadcast gigabytes under a row-only
    // gate) → the full-outer shuffle shape, no broadcast anywhere
    val shuffled = graft.lake.MorRead.resolve(table, s, broadcastMaxBytes = 0L)
    val sPlan = shuffled.queryExecution.executedPlan.toString
    assert(!sPlan.contains("BroadcastHashJoin"), s"byte gate must forbid broadcast:\n$sPlan")
    // both shapes read identically
    assert(graft.lake.MorRead.resolve(table, s).collect().map(_.toString).toSet ===
      shuffled.collect().map(_.toString).toSet)
  }

  test("delta files from appends and compactions hold only their labeled bucket's rows") {
    import spark.implicits._
    def rows(ids: Seq[Int], op: String, seqBase: Long) =
      ids.toDF("id").select(
        concat(lit("r"), col("id") % 7).as("repo"), concat(lit("f"), col("id")).as("path"),
        lit(op).as("op"), (col("id") + seqBase).as("seq"),
        struct(concat(lit("r"), col("id") % 7).as("repo"),
          concat(lit("f"), col("id")).as("path"), lit("c0").as("commit"),
          lit("scala").as("lang"), concat(lit("v"), col("id") + seqBase).as("content")).as("after"))
    def assertLabeled(table: LakeTable, what: String): Unit = {
      val s = table.refresh()
      assert(s.deltaFiles.nonEmpty, s"$what: fixture must hold delta files")
      assert(s.deltaFiles.forall(f => f.bucket >= 0 && f.bucket < s.numBuckets),
        s"$what: labels ${s.deltaFiles.map(_.bucket).distinct}")
      assert(MorSpec.mislabeledRows(table, s) === 0L, s"$what: a row outside its file's bucket")
    }

    // appendDelta: raw events (several per key) written by several tasks,
    // at most one file per bucket per task
    val table = LakeTable.create(spark, TestSpark.tmpDir("graft-mor-labels-append"),
      numBuckets = 8, targetFileRows = 512)
    MergeApply.merge(table, rows(0 until 200, "insert", 0L), Map.empty)
    MergeApply.appendDelta(table, rows(0 until 120, "update", 1000L), Map.empty)
    MergeApply.appendDelta(table, rows(60 until 200, "update", 2000L), Map.empty)
    assertLabeled(table, "appendDelta")
    assert(table.snapshot.deltaFiles.map(_.bucket).distinct.size === 8)
    assert(table.snapshot.deltaRows === 260L)

    // the compaction tick: some bucket reaches CompactDeltasMinFiles files,
    // and every bucket split across files becomes one file
    (0 until Mor.CompactDeltasMinFiles).foreach { i =>
      MergeApply.appendDelta(table, rows((0 until 200).filter(_ % 16 == i), "update", 3000L), Map.empty)
    }
    val r = Mor.fold(table, minEventsPerBucket = Long.MaxValue)
    assert(r.bucketsFolded === 0 && table.snapshot.metrics.get("deltaCompactions").contains(1L))
    assertLabeled(table, "compaction")
    assert(table.snapshot.deltaFiles.groupBy(_.bucket).values.forall(_.size == 1))
    Mor.fold(table)
    val contents = table.read().select(col("path"), col("content")).collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    (0 until 200).foreach(id => assert(contents(s"f$id") === s"v${id + 3000}"))

    // the fused MOR batch path (Ingest.applyBatch's MOR segment writer)
    val logDir = TestSpark.tmpDir("graft-mor-labels-log")
    ChangeLog.write(ChangelogGen.events(spark, cfg), logDir, segmentsPerPartition = 2)
    val sDir = TestSpark.tmpDir("graft-mor-labels-batch")
    LakeTable.create(spark, sDir, numBuckets = 8)
    Ingest.applyBatch(LakeTable.load(spark, sDir), ChangeLog.readDF(spark, logDir),
      batchId = 0L, cfg = Ingest.IngestConfig(morMode = true))
    assertLabeled(LakeTable.load(spark, sDir), "applyBatch")

    // a bounded streaming catch-up (AvailableNow micro-batches)
    val aDir = TestSpark.tmpDir("graft-mor-labels-an")
    LakeTable.create(spark, aDir, numBuckets = 8)
    StreamIngest.runAvailable(spark, logDir, aDir, TestSpark.tmpDir("graft-mor-labels-ck"),
      maxFilesPerTrigger = 4, cfg = Ingest.IngestConfig(morMode = true))
    assertLabeled(LakeTable.load(spark, aDir), "runAvailable")
  }

  test("bucket-localized delta log: labels in the manifest, file-group pruned partial folds") {
    import spark.implicits._
    val tableDir = TestSpark.tmpDir("graft-mor-labels")
    // targetFileRows above any bucket's winner count, so "one compacted file
    // per bucket" is exact (maxRecordsPerFile otherwise splits legitimately)
    val table = LakeTable.create(spark, tableDir, numBuckets = 8, targetFileRows = 512)
    def rows(ids: Seq[Int], op: String, seqBase: Long) =
      ids.toDF("id").select(
        concat(lit("r"), col("id") % 5).as("repo"), concat(lit("f"), col("id")).as("path"),
        lit(op).as("op"), (col("id") + seqBase).as("seq"),
        struct(concat(lit("r"), col("id") % 5).as("repo"),
          concat(lit("f"), col("id")).as("path"), lit("c0").as("commit"),
          lit("scala").as("lang"), concat(lit("v"), col("id") + seqBase).as("content")).as("after"))
    MergeApply.merge(table, rows(0 until 400, "insert", 0L), Map.empty)
    val bucketOf: Map[Int, Int] = rows(0 until 400, "insert", 0L)
      .select(col("seq").cast("int").as("id"),
        table.bucketExpr(col("repo"), col("path")).as("b"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val byBucket = (0 until 400).groupBy(bucketOf)

    // 1. scattered appends (labeled files, several per bucket) + a
    //    nothing-dense fold tick → one compacted delta file per bucket
    (0 until Mor.CompactDeltasMinFiles).foreach { i =>
      MergeApply.appendDelta(table,
        rows((0 until 400).filter(_ % Mor.CompactDeltasMinFiles == i), "update", 1000L),
        Map.empty)
    }
    Mor.fold(table, minEventsPerBucket = 1000L) // compaction tick
    val labeledSnap = table.refresh()
    assert(labeledSnap.deltaFiles.nonEmpty &&
      labeledSnap.deltaFiles.forall(_.bucket >= 0),
      "compacted delta files must carry bucket labels in the manifest")
    assert(labeledSnap.deltaFiles.groupBy(_.bucket).values.forall(_.size == 1),
      "one compacted file per bucket")
    assert(labeledSnap.deltaRows === 400L)

    // 2. dense appends into ONE bucket; partial fold must read only that
    //    bucket's files — every other bucket's file survives IDENTICALLY
    //    (same path), and only that bucket's base files are rewritten
    val dense = byBucket.maxBy(_._2.size)._1
    val denseKeys = byBucket(dense)
    MergeApply.appendDelta(table, rows(denseKeys, "update", 2000L), Map.empty)
    val before = table.refresh()
    val (denseFiles, keptLabeled) = before.deltaFiles.partition(_.bucket == dense)
    assert(denseFiles.size >= 2 && keptLabeled.nonEmpty)
    // the labels alone name the one bucket the dense append touched
    val appended = before.deltaFiles.filterNot(f => labeledSnap.deltaFiles.exists(_.path == f.path))
    assert(appended.nonEmpty && appended.map(_.bucket).toSet === Set(dense))

    val r = Mor.fold(table, minEventsPerBucket = (denseKeys.size + 1).toLong)
    assert(r.bucketsFolded === 1)
    assert(r.deltaFilesFolded === denseFiles.size,
      "fold must read only the dense bucket's files")
    assert(r.eventsFolded === denseKeys.size.toLong)
    val after = table.refresh()
    assert(keptLabeled.map(_.path).toSet.subsetOf(after.deltaFiles.map(_.path).toSet),
      "unselected buckets' labeled files must survive untouched")
    val rewritten = before.files.filterNot(f => after.files.exists(_.path == f.path))
    assert(rewritten.nonEmpty && rewritten.forall(_.bucket === dense))

    // 3. scheduling off the manifest alone: a second dense bucket
    //    accumulated ≥ threshold in its labeled file — fold selects it
    val dense2 = byBucket.filter(_._1 != dense).maxBy(_._2.size)._1
    val r2 = Mor.fold(table,
      minEventsPerBucket = byBucket(dense2).size.toLong)
    assert(r2.bucketsFolded >= 1)
    val after2 = table.refresh()
    assert(!after2.deltaFiles.exists(_.bucket == dense2),
      "manifest-scheduled fold must sweep the dense labeled bucket")

    // content is exact throughout: every key reads its last update
    val contents = table.read().select(col("path"), col("content")).collect()
      .map(x => x.getString(0) -> x.getString(1)).toMap
    assert(contents.size === 400)
    (0 until 400).foreach { id =>
      val want = if (denseKeys.contains(id)) s"v${id + 2000}" else s"v${id + 1000}"
      assert(contents(s"f$id") === want, s"f$id")
    }
    // and a final full fold converges
    Mor.fold(table)
    assert(table.refresh().deltaFiles.isEmpty)
    assert(table.read().count() === 400L)
  }

  test("partial fold rewrites only dense buckets; the remainder stays in its delta files") {
    import spark.implicits._
    val tableDir = TestSpark.tmpDir("graft-mor-partial")
    val table = LakeTable.create(spark, tableDir, numBuckets = 8, targetFileRows = 16)
    def rows(ids: Seq[Int], op: String, seqBase: Long) =
      ids.toDF("id").select(
        concat(lit("r"), col("id") % 5).as("repo"), concat(lit("f"), col("id")).as("path"),
        lit(op).as("op"), (col("id") + seqBase).as("seq"),
        struct(concat(lit("r"), col("id") % 5).as("repo"),
          concat(lit("f"), col("id")).as("path"), lit("c0").as("commit"),
          lit("scala").as("lang"), concat(lit("v"), col("id") + seqBase).as("content")).as("after"))
    MergeApply.merge(table, rows(0 until 400, "insert", 0L), Map.empty)

    // bucket assignment of every key, via the table's own bucket function
    val bucketOf: Map[Int, Int] = rows(0 until 400, "insert", 0L)
      .select(col("seq").cast("int").as("id"),
        table.bucketExpr(col("repo"), col("path")).as("b"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val byBucket = (0 until 400).groupBy(bucketOf)
    val dense = byBucket.maxBy(_._2.size)._1
    val sparse = byBucket.keys.filter(_ != dense).take(2).toSeq
    val denseKeys = byBucket(dense).take(30)
    val sparseKeys = sparse.map(b => byBucket(b).head)
    MergeApply.appendDelta(table, rows(denseKeys ++ sparseKeys, "update", 1000L), Map.empty)

    val before = table.refresh()
    val r = Mor.fold(table, minEventsPerBucket = 10L)
    assert(r.bucketsFolded === 1, "only the dense bucket reaches the threshold")
    assert(r.eventsFolded === denseKeys.size.toLong)
    assert(r.eventsDeferred === sparseKeys.size.toLong)
    val after = table.refresh()
    // base rewrites confined to the dense bucket
    val rewritten = before.files.filterNot(f => after.files.exists(_.path == f.path))
    assert(rewritten.nonEmpty && rewritten.forall(_.bucket === dense),
      s"partial fold must rewrite only bucket $dense, got ${rewritten.map(_.bucket).distinct}")
    // the remainder stays live in the sparse buckets' files and reads resolve it
    assert(after.deltaFiles.map(_.bucket).toSet === sparse.toSet &&
      after.deltaRows === sparseKeys.size.toLong)
    val contents = table.read().select(col("path"), col("content")).collect()
      .map(r2 => r2.getString(0) -> r2.getString(1)).toMap
    (denseKeys ++ sparseKeys).foreach { id =>
      assert(contents(s"f$id") === s"v${id + 1000}", s"update to f$id must be visible") }
    assert(contents.size === 400)

    // threshold nobody reaches + a fragmented bucket: one-key inserts into
    // one bucket. Below CompactDeltasMinFiles files in any bucket a tick is
    // a no-op; at the threshold every split bucket compacts to one file
    val frag = spark.range(400, 2000).select(col("id").cast("int").as("id"))
      .filter(table.bucketExpr(concat(lit("r"), col("id") % 5), concat(lit("f"), col("id"))) === dense)
      .as[Int].take(Mor.CompactDeltasMinFiles).toSeq
    frag.init.foreach(id => MergeApply.appendDelta(table, rows(Seq(id), "insert", 2000L), Map.empty))
    val quiet = Mor.fold(table, minEventsPerBucket = 1000L)
    assert(quiet.bucketsFolded === 0 && table.refresh().deltaFiles.size === frag.size - 1 + sparse.size,
      "a tick below the file threshold compacts nothing")
    MergeApply.appendDelta(table, rows(Seq(frag.last), "insert", 2000L), Map.empty)
    val rc = Mor.fold(table, minEventsPerBucket = 1000L)
    assert(rc.bucketsFolded === 0 && rc.eventsFolded === 0L)
    val compacted = table.refresh()
    assert(compacted.deltaFiles.groupBy(_.bucket).values.forall(_.size == 1) &&
      compacted.deltaFiles.size === 1 + sparse.size,
      s"delta log must compact to one file per bucket, got ${compacted.deltaFiles.map(_.bucket)}")
    assert(table.read().count() === 400L + Mor.CompactDeltasMinFiles)

    // full fold still converges and empties the delta list
    Mor.fold(table)
    assert(table.refresh().deltaFiles.isEmpty)
    assert(table.read().count() === 400L + Mor.CompactDeltasMinFiles)
  }

  test("MOR streaming converges to the oracle; fold preserves content and empties the delta list") {
    val logDir = TestSpark.tmpDir("graft-mor-log")
    val tableDir = TestSpark.tmpDir("graft-mor-table")
    val ckpt = TestSpark.tmpDir("graft-mor-ckpt")
    ChangeLog.write(ChangelogGen.events(spark, cfg), logDir, segmentsPerPartition = 4)
    LakeTable.create(spark, tableDir, numBuckets = 8)

    StreamIngest.runAvailable(spark, logDir, tableDir, ckpt, maxFilesPerTrigger = 4,
      cfg = Ingest.IngestConfig(morMode = true))

    val oracle = Oracle.contentSha(Oracle.replay(ChangelogGen.eventsLocal(cfg)))
      .map { case ((r, p), (sha, _)) => (r, p, sha) }.toSet
    val t = LakeTable.load(spark, tableDir)
    assert(t.snapshot.deltaFiles.nonEmpty, "MOR mode must have produced delta files")
    assert(t.snapshot.files.isEmpty, "MOR mode must not have rewritten base files")
    assert(shaSet(t) === oracle, "merge-on-read resolution must equal the oracle")

    // batch replay of the fully-applied log is fenced to a no-op (the
    // orderedDelivery contract, same as CLI `replay`) — exactly-once in MOR
    val deltasBefore = t.snapshot.deltaFiles.size
    val r = Ingest.replayLog(t, ChangeLog.readDF(spark, logDir),
      Ingest.IngestConfig(morMode = true, orderedDelivery = true))
    assert(r.eventsApplied === 0, "replay must be fenced out")
    assert(t.refresh().deltaFiles.size === deltasBefore, "no delta double-append")

    // fold: content identical, deltas gone, base populated, compact now legal
    val fr = Mor.fold(t)
    assert(fr.deltaFilesFolded === deltasBefore)
    val folded = LakeTable.load(spark, tableDir)
    assert(folded.snapshot.deltaFiles.isEmpty)
    assert(folded.snapshot.files.nonEmpty)
    assert(shaSet(folded) === oracle, "fold must not change the table's content")
    graft.lake.Maintenance.compact(folded, force = true)
    assert(shaSet(LakeTable.load(spark, tableDir)) === oracle)
  }

  test("auto-fold cadence: morFoldEvery bounds the delta backlog and still converges") {
    // cadence folds are a CONTINUOUS-TAIL feature (suppressed under
    // AvailableNow, where fold-at-end does strictly less base rewriting —
    // see StreamIngest), so this drives a live tail and stops it.
    val logDir = TestSpark.tmpDir("graft-morf-log")
    val tableDir = TestSpark.tmpDir("graft-morf-table")
    ChangeLog.write(ChangelogGen.events(spark, cfg), logDir, segmentsPerPartition = 4)
    LakeTable.create(spark, tableDir, numBuckets = 8)
    val expectedFence = ChangeLog.readDF(spark, logDir)
      .groupBy(col("partition")).agg(max(col("offset")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val tailThread = new Thread(() =>
      StreamIngest.tail(spark, logDir, tableDir, TestSpark.tmpDir("graft-morf-ck"),
        maxFilesPerTrigger = 4, cfg = Ingest.IngestConfig(morMode = true, morFoldEvery = 2)))
    tailThread.start()
    val deadline = System.nanoTime() + 120e9.toLong
    while (LakeTable.load(spark, tableDir).snapshot.fence != expectedFence &&
        System.nanoTime() < deadline) Thread.sleep(250)
    StreamIngest.requestStop(tableDir)
    tailThread.join(60000)
    assert(!tailThread.isAlive, "tail must stop at the batch boundary")
    val t = LakeTable.load(spark, tableDir)
    assert(t.snapshot.fence === expectedFence, "tail must consume the whole log")
    assert(t.snapshot.files.nonEmpty, "auto-fold must have produced base files")
    assert(t.snapshot.metrics.getOrElse("morFolds", 0L) >= 1L, "at least one fold ran")
    val oracle = Oracle.contentSha(Oracle.replay(ChangelogGen.eventsLocal(cfg)))
      .map { case ((r, p), (sha, _)) => (r, p, sha) }.toSet
    assert(shaSet(t) === oracle)
  }

  test("MOR equals COW on the same log, including with in-stream DDLs") {
    val cfgDdl = cfg.copy(seed = 41L, nEvents = 8000L, ddlEvery = 3000L)
    val logDir = TestSpark.tmpDir("graft-morddl-log")
    ChangeLog.write(ChangelogGen.events(spark, cfgDdl), logDir, segmentsPerPartition = 3)

    val cowDir = TestSpark.tmpDir("graft-morddl-cow")
    LakeTable.create(spark, cowDir, numBuckets = 8)
    StreamIngest.runAvailable(spark, logDir, cowDir, TestSpark.tmpDir("graft-morddl-ck1"),
      maxFilesPerTrigger = 4)

    val morDir = TestSpark.tmpDir("graft-morddl-mor")
    LakeTable.create(spark, morDir, numBuckets = 8)
    StreamIngest.runAvailable(spark, logDir, morDir, TestSpark.tmpDir("graft-morddl-ck2"),
      maxFilesPerTrigger = 4, cfg = Ingest.IngestConfig(morMode = true))

    val cow = LakeTable.load(spark, cowDir)
    val mor = LakeTable.load(spark, morDir)
    assert(mor.snapshot.schemaId === cow.snapshot.schemaId, "DDLs must evolve MOR schema too")
    assert(shaSet(mor) === shaSet(cow), "MOR read must equal the COW table")
    Mor.fold(mor)
    assert(shaSet(LakeTable.load(spark, morDir)) === shaSet(cow), "post-fold too")
  }

  test("barrier DDLs (image-column renames) split MOR batches; empty segments commit cleanly") {
    import org.apache.spark.sql.DataFrame
    val repoRow = graft.model.Schemas.repoRow
    def rowEv(offset: Long, seq: Long, repo: String, path: String, content: String): DataFrame = {
      import spark.implicits._
      Seq((offset, seq, repo, path, content)).toDF("offset", "seq", "repo", "path", "content")
        .select(lit(0).as("partition"), col("offset"), col("seq"),
          lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ts"),
          lit("insert").as("op"), col("repo"), col("path"),
          lit(null).cast(repoRow).as("before"),
          struct(col("repo"), col("path"), lit("c0").as("commit"),
            lit("scala").as("lang"), col("content")).as("after"),
          lit(null).cast(graft.model.Schemas.ddlOp).as("ddl"))
    }
    def renameEv(offset: Long, seq: Long, from: String, to: String): DataFrame = {
      import spark.implicits._
      Seq((offset, seq)).toDF("offset", "seq")
        .select(lit(0).as("partition"), col("offset"), col("seq"),
          lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")).as("ts"),
          lit("ddl").as("op"),
          lit(null).cast("string").as("repo"), lit(null).cast("string").as("path"),
          lit(null).cast(repoRow).as("before"), lit(null).cast(repoRow).as("after"),
          struct(lit("rename_column").as("kind"), lit(from).as("column"),
            lit(to).as("newName"), lit(null).cast("string").as("fromType"),
            lit(null).cast("string").as("toType")).as("ddl"))
    }
    // rows seq 1-3; TWO barrier DDLs back-to-back (seq 4, 5) — the segment
    // strictly between them holds NO rows; rows seq 6-7 after (their images
    // still carry the OLD field names, bound by column id)
    val batch = Seq(
      rowEv(0, 1, "r1", "p1", "v1"), rowEv(1, 2, "r2", "p2", "v2"),
      rowEv(2, 3, "r3", "p3", "v3"),
      renameEv(3, 4, "lang", "language"), renameEv(4, 5, "commit", "sha"),
      rowEv(5, 6, "r1", "p1", "v6"), rowEv(6, 7, "r4", "p4", "v7")
    ).reduce(_ union _)

    def runMode(mor: Boolean): LakeTable = {
      val dir = TestSpark.tmpDir(s"graft-morbar-$mor")
      val t = LakeTable.create(spark, dir, numBuckets = 4)
      val bm = Ingest.applyBatch(t, batch, batchId = 0,
        Ingest.IngestConfig(morMode = mor))
      assert(bm.ddlApplied === 2)
      if (mor) { assert(t.snapshot.deltaFiles.nonEmpty); Mor.fold(t); () }
      LakeTable.load(spark, dir)
    }
    val cow = runMode(mor = false)
    val mor = runMode(mor = true)
    def state(t: LakeTable) = t.read()
      .select(col("repo"), col("path"), col("sha"), col("language"), col("content"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4))).toSet
    assert(mor.schema.columns.map(_.name) === cow.schema.columns.map(_.name))
    assert(state(mor) === state(cow), "MOR barrier-split result must equal COW")
    assert(state(mor).exists { case (r, _, sha, lang, c) =>
      r == "r1" && c == "v6" && sha == "c0" && lang == "scala" },
      "post-DDL row's old-named image fields must bind to the renamed columns")
  }

  test("fold holds back winners whose image fields the schema cannot resolve yet (cross-batch DDL at the resolve point)") {
    // MOR appends are schema-agnostic: an event carrying a field whose
    // add_column DDL has NOT arrived is stored verbatim. The resolve point is
    // FOLD — it must not drop the value with the delta file: the winner is
    // held in _pending and re-applies once the DDL lands.
    val tableDir = TestSpark.tmpDir("graft-mor-holdfold")
    val table = LakeTable.create(spark, tableDir, numBuckets = 4)
    def ev(seq: Long, content: String, stars: java.lang.Integer) = {
      import spark.implicits._
      Seq((seq, content)).toDF("seq", "content")
        .select(lit("r1").as("repo"), lit("p1").as("path"),
          lit("insert").as("op"), col("seq"),
          struct(lit("r1").as("repo"), lit("p1").as("path"), lit("c0").as("commit"),
            lit("scala").as("lang"), col("content"),
            lit(stars).cast("int").as("stars")).as("after"))
    }
    MergeApply.appendDelta(table, ev(1L, "v1", 7), Map.empty) // stars ahead of its DDL
    MergeApply.appendDelta(table, ev(2L, "v2", 9), Map.empty) // winner carries stars=9
    // read-time resolution simply ignores the unresolved field (value stays
    // safe inside the delta file)
    assert(table.read().select("content").collect()(0).getString(0) === "v2")

    val fr = Mor.fold(table)
    assert(fr.deltaFilesFolded === 2)
    assert(table.refresh().deltaFiles.isEmpty, "fold must still drop the delta files")
    assert(table.snapshot.metrics.getOrElse("pendingHeldBack", 0L) === 1L,
      "the winner must be held, not merged with its stars value dropped")
    assert(table.read().count() === 0, "held row is not in the base yet")

    // the DDL lands; the next drain re-applies the held winner WITH its value
    table.evolveSchema(_.addColumn("stars", "int"), ddlSeq = 10L)
    assert(Ingest.drainPending(table) === 1L)
    val row = table.read().select("content", "stars").collect()(0)
    assert(row.getString(0) === "v2" && row.getInt(1) === 9,
      "no field arrives-before-its-DDL may be lost across a fold")
  }

  test("a rename inside a MOR backlog keeps the old name's values, read and folded") {
    // the backlog holds `lang` events (before rename_column lang → language)
    // and `language` events (after it): the merged image carries both names,
    // and the column reads whichever one its event was written under
    import spark.implicits._
    val table = LakeTable.create(spark, TestSpark.tmpDir("graft-mor-rename"), numBuckets = 8)
    def ev(ids: Seq[Int], op: String, seq: Long, langCol: String, lang: String, tag: String) =
      ids.toDF("id").select(
        lit("r").as("repo"), concat(lit("f"), col("id")).as("path"), lit(op).as("op"),
        lit(seq).as("seq"),
        struct(lit("r").as("repo"), concat(lit("f"), col("id")).as("path"), lit("c0").as("commit"),
          lit(lang).as(langCol), concat(lit(s"$tag-"), col("id")).as("content")).as("after"))
    MergeApply.merge(table, ev(0 until 100, "insert", 1L, "lang", "L1", "v1"), Map.empty)
    MergeApply.appendDelta(table, ev(Seq(5, 6), "update", 2L, "lang", "L2", "v2"), Map.empty)
    table.evolveSchema(_.renameColumn("lang", "language"))
    MergeApply.appendDelta(table, ev(Seq(7), "update", 3L, "language", "L3", "v3"), Map.empty)
    val want = Map("f5" -> ("L2", "v2-5"), "f6" -> ("L2", "v2-6"), "f7" -> ("L3", "v3-7"),
      "f8" -> ("L1", "v1-8"))
    def check(what: String): Unit = {
      val rows = table.read().collect().map(r =>
        r.getAs[String]("path") -> (r.getAs[String]("language"), r.getAs[String]("content"))).toMap
      assert(rows.size === 100, what)
      want.foreach { case (k, v) => assert(rows.get(k) === Some(v), s"$what: $k") }
    }
    check("MOR read")
    Mor.fold(table)
    assert(table.refresh().deltaFiles.isEmpty)
    assert(table.snapshot.metrics.getOrElse("pendingHeldBack", 0L) === 0L,
      "no event may be parked for a field the schema resolves by id")
    check("after the fold")
  }

  test("MOR resolution preserves uncarried columns and absorbs stale replays after a delete") {
    val tableDir = TestSpark.tmpDir("graft-mor2-table")
    val table = LakeTable.create(spark, tableDir, numBuckets = 4)
    table.evolveSchema(_.addColumn("stars", "int"))

    // seed via COW a wide row holding an uncarried-column value
    val wide = spark.createDataFrame(Seq(("r1", "p1", "c0", "scala", "v0", 5)))
      .toDF("repo", "path", "commit", "lang", "content", "stars")
      .select(col("repo"), col("path"), lit("insert").as("op"), lit(1L).as("seq"),
        struct(col("repo"), col("path"), col("commit"), col("lang"),
          col("content"), col("stars")).as("after"))
    MergeApply.merge(table, wide, Map.empty)

    // a 5-column-image update arrives as a MOR delta: stars must survive
    val upd = spark.createDataFrame(Seq(("r1", "p1", "c1", "scala", "v1")))
      .toDF("repo", "path", "commit", "lang", "content")
      .select(col("repo"), col("path"), lit("update").as("op"), lit(2L).as("seq"),
        struct(col("repo"), col("path"), col("commit"), col("lang"), col("content")).as("after"))
    MergeApply.appendDelta(table, upd, Map.empty)
    val r1 = table.read().select("content", "stars").collect()(0)
    assert(r1.getString(0) === "v1", "MOR read must apply the delta's after-image")
    assert(r1.getInt(1) === 5, "MOR read must preserve columns absent from the image")

    // delete lands as a second delta; a STALE update (lower seq) appended
    // afterwards must not resurrect the row — LWW across delta files
    val del = spark.createDataFrame(Seq(("r1", "p1")))
      .toDF("repo", "path")
      .select(col("repo"), col("path"), lit("delete").as("op"), lit(9L).as("seq"),
        lit(null).cast(graft.model.Schemas.repoRow).as("after"))
    MergeApply.appendDelta(table, del, Map.empty)
    assert(table.read().count() === 0, "winning delete suppresses the row at read")
    val stale = spark.createDataFrame(Seq(("r1", "p1", "cS", "scala", "vS")))
      .toDF("repo", "path", "commit", "lang", "content")
      .select(col("repo"), col("path"), lit("update").as("op"), lit(3L).as("seq"),
        struct(col("repo"), col("path"), col("commit"), col("lang"), col("content")).as("after"))
    MergeApply.appendDelta(table, stale, Map.empty)
    assert(table.read().count() === 0, "stale replay must not resurrect a deleted row")

    // both physical resolution shapes (broadcast decomposition vs full-outer
    // shuffle) must agree — here on a table holding live rows AND a tombstone
    val other = spark.createDataFrame(Seq(("r9", "p9", "c9", "scala", "v9")))
      .toDF("repo", "path", "commit", "lang", "content")
      .select(col("repo"), col("path"), lit("insert").as("op"), lit(20L).as("seq"),
        struct(col("repo"), col("path"), col("commit"), col("lang"), col("content")).as("after"))
    MergeApply.appendDelta(table, other, Map.empty)
    val snapNow = table.refresh()
    def shape(maxRows: Long) = graft.lake.MorRead.resolve(table, snapNow, maxRows)
      .collect().map(_.toString).toSet
    assert(shape(Long.MaxValue) === shape(0L),
      "broadcast and full-outer MOR resolutions must be identical")
    assert(shape(0L).exists(_.contains("r9")))

    // fold writes the tombstone into base so it keeps absorbing post-fold
    // (the only live row is the unrelated r9 probe inserted above)
    Mor.fold(table)
    val folded = LakeTable.load(spark, tableDir)
    assert(folded.snapshot.deltaFiles.isEmpty)
    assert(folded.read().collect().map(_.getString(0)).toSeq === Seq("r9"))
    MergeApply.merge(folded, stale, Map.empty) // COW stale replay vs folded tombstone
    assert(folded.read().collect().map(_.getString(0)).toSeq === Seq("r9"),
      "folded tombstone must absorb stale COW replays too")
  }

  test("bucket-pruned MOR reads: untouched buckets bypass the join; relabeled files fail") {
    import spark.implicits._
    val tableDir = TestSpark.tmpDir("graft-mor-prune")
    val table = LakeTable.create(spark, tableDir, numBuckets = 8)
    def rows(ids: Seq[Int], op: String, seqBase: Long) =
      ids.toDF("id").select(
        concat(lit("r"), col("id") % 3).as("repo"), concat(lit("f"), col("id")).as("path"),
        lit(op).as("op"), (col("id") + seqBase).as("seq"),
        struct(concat(lit("r"), col("id") % 3).as("repo"),
          concat(lit("f"), col("id")).as("path"), lit("c0").as("commit"),
          lit("scala").as("lang"), concat(lit("v"), col("id") + seqBase).as("content")).as("after"))
    MergeApply.merge(table, rows(0 until 400, "insert", 0L), Map.empty)

    // a backlog CONFINED to one bucket: update 20 keys that all hash there
    val withB = spark.range(400).select(col("id").cast("int").as("id"),
      table.bucketExpr(concat(lit("r"), col("id") % 3),
        concat(lit("f"), col("id"))).as("b"))
    val targetBucket = withB.filter(col("id") === 0).select("b").as[Int].head()
    val targetIds = withB.filter(col("b") === targetBucket)
      .select("id").as[Int].collect().toSeq
    MergeApply.appendDelta(table, rows(targetIds.take(20), "update", 1000L), Map.empty)
    val s = table.refresh()

    // the delta files' labels alone name exactly the touched bucket
    assert(graft.lake.MorRead.touchedBuckets(s) === Set(targetBucket))

    // blind control: every base file resolved against the deltas, no pruning
    val blind = graft.lake.MorRead.resolveOn(table, s, s.files, s.deltaFiles, broadcastMaxBytes = 0L)
      .filter(!col(LakeTable.DeletedCol)).select(s.schema.columns.map(c => col(c.name)): _*)
    val expected = blind.collect().map(_.toString).toSet

    // pruned full-outer shape: passthrough Union present, result identical
    val pruned = graft.lake.MorRead.resolve(table, s, broadcastMaxBytes = 0L)
    val prunedPlan = pruned.queryExecution.executedPlan.toString
    val blindPlan = blind.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("Union"),
      s"pruned plan must carry the untouched-bucket passthrough branch:\n$prunedPlan")
    assert(!blindPlan.contains("Union"),
      s"without pruning the whole base must enter the join (no passthrough):\n$blindPlan")
    assert(pruned.collect().map(_.toString).toSet === expected)
    // pruned broadcast shape agrees too
    assert(graft.lake.MorRead.resolve(table, s).collect().map(_.toString).toSet === expected)
    // and the public read (which routes through resolve) matches the oracle rows
    assert(table.read().count() === 400)

    // RELABELED delta entries (rows in targetBucket, labels naming another)
    // must fail the read — never silently serve stale passthrough — and a
    // partial fold that selects them by label must fail, not fold them
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    def assertGuard(e: Throwable): Unit =
      assert(messages(e).exists(_.contains("MOR bucket labels")),
        s"expected the label guard to fire, got: ${messages(e).mkString(" | ")}")
    val other = (targetBucket + 1) % 8
    val relabeled = s.deltaFiles.map(_.copy(bucket = other))
    assertGuard(intercept[Throwable] {
      graft.lake.MorRead.resolve(table, s.copy(deltaFiles = relabeled), broadcastMaxBytes = 0L).collect()
    })
    val lied = table.commit(s.deltaFiles.map(_.path).toSet, Seq.empty, Map.empty, Map.empty,
      newDeltaFiles = relabeled)
    assert(lied.deltaFiles.map(_.bucket).toSet === Set(other))
    assertGuard(intercept[Throwable](Mor.fold(table, minEventsPerBucket = 1L)))
    assert(table.refresh().version === lied.version, "a failed fold commits nothing")
  }

  test("async fold worker: in-flight submits skip; failures rethrow at drain and at the next submit") {
    import graft.ingest.MorFolds

    // skip-while-busy: a latch holds the first task in flight
    val k1 = s"/tmp/morfolds-busy-${System.nanoTime()}"
    val latch = new java.util.concurrent.CountDownLatch(1)
    assert(MorFolds.submitTask(k1) { latch.await() }, "first submit must run")
    assert(!MorFolds.submitTask(k1) { () },
      "a tick that finds the previous fold in flight must SKIP, not queue")
    latch.countDown()
    MorFolds.drain(k1) // clean completion: no rethrow

    // failure surfaces at drain (stream end)
    val k2 = s"/tmp/morfolds-drain-${System.nanoTime()}"
    assert(MorFolds.submitTask(k2) { sys.error("fold boom") })
    val atDrain = intercept[RuntimeException](MorFolds.drain(k2))
    assert(atDrain.getMessage === "fold boom")
    MorFolds.drain(k2) // consumed exactly once: second drain is clean

    // failure surfaces at the NEXT submit (fails the stream at a batch
    // boundary). failure.set happens-before busy=false, so once a probe
    // submit stops reporting busy it must observe the failure.
    val k3 = s"/tmp/morfolds-next-${System.nanoTime()}"
    assert(MorFolds.submitTask(k3) { sys.error("next boom") })
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var thrown: Option[Throwable] = None
    while (thrown.isEmpty && System.nanoTime() < deadline) {
      try {
        if (MorFolds.submitTask(k3)(()))
          fail("probe submit ran: failure was lost")
        Thread.sleep(5)
      } catch { case e: RuntimeException => thrown = Some(e) }
    }
    assert(thrown.map(_.getMessage).contains("next boom"))
    MorFolds.drain(k3) // the probe never started a task; drain stays clean
  }

  test("async fold worker: drain racing submits never orphans a claimed worker") {
    import graft.ingest.MorFolds
    // drain unregisters idle workers; a submit racing that removal must
    // either keep its claimed entry or get a fresh one — never end up with
    // two folds in flight for one table (the claim and the conditional
    // remove both run under the key's map lock)
    val key = s"/tmp/morfolds-race-${System.nanoTime()}"
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val submitter = new Thread(() => {
      while (!stop.get()) {
        MorFolds.submitTask(key) {
          val n = running.incrementAndGet()
          maxSeen.accumulateAndGet(n, (a, b) => math.max(a, b))
          Thread.sleep(1)
          running.decrementAndGet()
          ()
        }
        ()
      }
    })
    submitter.start()
    (0 until 300).foreach { _ => MorFolds.drain(key) }
    stop.set(true)
    submitter.join()
    MorFolds.drain(key)
    assert(maxSeen.get() <= 1,
      s"one-in-flight-fold-per-table violated: ${maxSeen.get()} concurrent folds")
  }
}

object MorSpec {
  /** Rows of `s`'s delta files whose bucket under `s.numBuckets` is not
    * their file's label (one job). */
  def mislabeledRows(table: LakeTable, s: graft.lake.Snapshot): Long =
    s.deltaFiles.map { f =>
      graft.lake.MorRead.deltaEvents(table, Seq(f), s.numBuckets)
        .filter(LakeTable.bucketExpr(col("repo"), col("path"), s.numBuckets) =!= f.bucket)
        .select(col("repo"), col("path"))
    }.reduceOption(_ unionByName _).fold(0L)(_.count())
}
