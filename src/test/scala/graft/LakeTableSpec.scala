package graft

import graft.lake._
import org.scalatest.funsuite.AnyFunSuite

/** LakeTable metadata unit tests: schema evolution rules, JSON round-trips,
  * atomic-commit conflict detection, fence merging, time travel.
  */
class LakeTableSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("schema evolution: add / rename / widen rules + illegal transitions") {
    val s0 = TableSchema.base
    assert(s0.columns.map(_.name) === Seq("repo", "path", "commit", "lang", "content"))
    val s1 = s0.addColumn("stars", "int")
    assert(s1.schemaId === 1 && s1.find("stars").get.id === 6)
    val s2 = s1.widenType("stars", "long")
    assert(s2.find("stars").get.dataType === "long")
    assert(s2.find("stars").get.id === 6, "widen keeps the column id")
    val s3 = s2.renameColumn("stars", "stargazers")
    assert(s3.find("stargazers").get.id === 6 && s3.find("stars").isEmpty)
    intercept[IllegalArgumentException](s3.widenType("stargazers", "int")) // long->int illegal
    intercept[IllegalArgumentException](s3.addColumn("repo", "string")) // duplicate
    intercept[IllegalArgumentException](s3.renameColumn("nope", "x")) // missing
    intercept[IllegalArgumentException](s3.renameColumn("stargazers", "repo")) // collision
  }

  test("snapshot JSON round-trip") {
    val dir = TestSpark.tmpDir("graft-lake-json")
    val sch = TableSchema.base.addColumn("stars", "int")
    val events = org.apache.spark.sql.types.StructType.fromDDL(
      "repo STRING, path STRING, op STRING, seq BIGINT, after STRUCT<content: STRING>")
    val base = Seq(DataFile(1, "data/c1-ab/_bucket=1/part-0.parquet", 0, 10L, -900L, 42L, 700L),
      DataFile(5, "data/c2-cd/_bucket=5/part-1.parquet", 1, 2L, Long.MinValue, Long.MaxValue, 300L))
    val deltas = Seq(DataFile(2, "data/c3-ef/_bucket=2/part-0.parquet", 1, 4L, Long.MinValue,
      Long.MaxValue, 200L, Some(events)))
    val refs = Seq(Manifest.write(dir, base, Manifest.BaseKind),
      Manifest.write(dir, deltas, Manifest.DeltaKind))
    val s = Snapshot(3L, 2L, sch.schemaId, 16, Seq.empty,
      Map(0 -> 99L, 3 -> 42L), Map("eventsApplied" -> 7L), 4L,
      Seq(TableSchema.base, sch), 123456789L, ddlSeq = 17L, maxSeq = 18L, targetFileRows = 4096L,
      manifests = refs)
    val rt = Snapshot.fromJson(s.toJson)
    assert(rt === s)
    Manifest.clearCacheForTest()
    val hydrated = rt.hydrate(dir)
    assert(hydrated.files.toSeq === base && hydrated.deltaFiles.toSeq === deltas)
    assert(hydrated.totalRows === 12L && hydrated.deltaRows === 4L)
  }

  /** A table whose newest pointer is `v1`, written over a fresh table's v0
    * (or, with `v0`, over that pointer too), and whose manifest holds the
    * `entry` line — the shapes an older build wrote. */
  private def oldShapeTable(name: String, v1: String => String, entry: String,
      v0: Option[String => String] = None): String = {
    import java.nio.file.{Files, Paths}
    val dir = TestSpark.tmpDir(name)
    LakeTable.create(spark, dir, numBuckets = 4)
    val m = Paths.get(dir, "manifests", "mf-old.jsonl")
    Files.createDirectories(m.getParent)
    Files.writeString(m, entry + "\n")
    val ref = s"""{"path":"manifests/mf-old.jsonl","kind":"base","fileCount":"1","rows":"5",""" +
      s""""minBucket":"0","maxBucket":"0","minKey":"0","maxKey":"9","bytes":"${Files.size(m)}"}"""
    val tail = """"fence":{},"metrics":{},"schemas":[""" + TableSchema.base.toJson + "]}"
    val head = (v: Int) => s"""{"version":"$v","parentVersion":"${v - 1}","schemaId":"0",""" +
      """"numBuckets":"4","committedBatchId":"-1","ddlSeq":"-1","maxSeq":"-1",""" +
      s""""targetFileRows":"1048576","tsMillis":"0","""
    val pointer = (v: Int) => Paths.get(dir, "snapshots", f"v$v%012d.json")
    v0.foreach(f => Files.writeString(pointer(0), head(0) + f(ref) + tail))
    Files.writeString(pointer(1), head(1) + v1(ref) + tail)
    dir
  }

  private val goodEntry =
    """{"bucket":"0","path":"data/c1/f.parquet","schemaId":"0","rows":"5","minKey":"0","maxKey":"9","bytes":"64"}"""

  test("metadata in an older build's shape is refused when parsed, naming the field") {
    def refused(field: String)(body: => Any): Unit = {
      val e = intercept[TableFormatException](body)
      assert(e.getMessage.contains(s"'$field'") && e.getMessage.contains("rebuild the table with `replay`"),
        e.getMessage)
    }
    val list = (r: String) => s""""manifestList":[$r],"""
    // well-formed: loads, and its entry reads; an older build's flat-delta
    // histogram field is ignored
    val ok = oldShapeTable("graft-lake-fmt-ok", r => list(r) + """"flatHist":"",""", goodEntry)
    assert(LakeTable.load(spark, ok).snapshot.files.map(_.path) === Seq("data/c1/f.parquet"))
    // a pointer with inline entries (before segmented manifests): refused at
    // load, not skipped as torn, not "not a LakeTable", and not v0 instead
    refused("files")(LakeTable.load(spark,
      oldShapeTable("graft-lake-fmt-inline", _ => s""""files":[$goodEntry],"deltaFiles":[],""", goodEntry)))
    refused("deltaFiles")(LakeTable.load(spark, oldShapeTable("graft-lake-fmt-inline-d",
      _ => s""""files":[],"deltaFiles":[$goodEntry],""", goodEntry)))
    // a pointer whose every version is inline: still the refusal
    val allInline = (_: String) => s""""files":[$goodEntry],"deltaFiles":[],"""
    refused("files")(LakeTable.load(spark,
      oldShapeTable("graft-lake-fmt-inline-all", allInline, goodEntry, v0 = Some(allInline))))
    refused("files")(LakeTable.exists(
      oldShapeTable("graft-lake-fmt-inline-ex", allInline, goodEntry, v0 = Some(allInline))))
    // a ref without a recorded size
    refused("bytes")(LakeTable.load(spark, oldShapeTable("graft-lake-fmt-refbytes",
      r => list(r.replaceAll(""","bytes":"\d+"""", "")), goodEntry)))
    refused("bytes")(LakeTable.load(spark, oldShapeTable("graft-lake-fmt-refzero",
      r => list(r.replaceAll(""""bytes":"\d+"""", """"bytes":"0"""")), goodEntry)))
    // entries: refused at the first read of the manifest
    def firstRead(entry: String): Any = {
      Manifest.clearCacheForTest()
      LakeTable.load(spark, oldShapeTable("graft-lake-fmt-entry", list, entry))
        .snapshot.files.toList
    }
    refused("bytes")(firstRead(goodEntry.replace(""","bytes":"64"""", "")))
    refused("bytes")(firstRead(goodEntry.replace(""""bytes":"64"""", """"bytes":"0"""")))
    refused("path")(firstRead(goodEntry.replace("data/c1/f.parquet", "/abs/data/c1/f.parquet")))
    // a delta entry without its event schema
    val deltaDir = oldShapeTable("graft-lake-fmt-noschema",
      r => list(r.replace(""""kind":"base"""", """"kind":"delta"""")), goodEntry)
    Manifest.clearCacheForTest()
    refused("eventSchema")(LakeTable.load(spark, deltaDir).snapshot.deltaFiles.toList)
    // an unfolded flat append: a delta entry without a bucket
    val events = org.apache.spark.sql.types.StructType.fromDDL("repo STRING, path STRING, op STRING, seq BIGINT")
    val flatDir = oldShapeTable("graft-lake-fmt-flat",
      r => list(r.replace(""""kind":"base"""", """"kind":"delta"""")),
      goodEntry.replace(""""bucket":"0"""", """"bucket":"-1"""").stripSuffix("}") +
        s""","eventSchema":${Json.quote(events.json)}}""")
    Manifest.clearCacheForTest()
    val flat = LakeTable.load(spark, flatDir)
    refused("bucket")(flat.snapshot.deltaFiles.toList)
    Manifest.clearCacheForTest()
    val e = intercept[TableFormatException](flat.read())
    assert(e.getMessage.contains("fold the table with the build that wrote it"), e.getMessage)
  }

  test("a table that starts with the older inline-empty v0 loads at every version") {
    val emptyInline = (_: String) => """"files":[],"deltaFiles":[],"""
    val dir = oldShapeTable("graft-lake-fmt-v0", r => s""""manifestList":[$r],""", goodEntry,
      v0 = Some(emptyInline))
    val t = LakeTable.load(spark, dir)
    assert(t.snapshot.version === 1L && t.snapshot.files.size === 1)
    assert(t.snapshotAt(0L).files.isEmpty && t.snapshotAt(0L).manifests.isEmpty)
    assert(t.snapshotAt(1L).files.map(_.path) === Seq("data/c1/f.parquet"))
    // this build's own v0 and an emptied table write an empty manifest list
    val fresh = LakeTable.create(spark, TestSpark.tmpDir("graft-lake-fmt-v0new"), numBuckets = 4)
    assert(fresh.snapshot.toJson.contains(""""manifestList":[]""") && !fresh.snapshot.toJson.contains("files"))
    fresh.commit(Set.empty, Seq(DataFile(0, "data/c1/f.parquet", 0, 5L, 0L, 9L, 64L)), Map.empty, Map.empty)
    val emptied = fresh.commit(Set("data/c1/f.parquet"), Seq.empty, Map.empty, Map.empty)
    assert(emptied.manifests.isEmpty && LakeTable.load(spark, fresh.dir).snapshot.files.isEmpty)
  }

  test("atomic commit: version race loses with CommitConflictException") {
    val dir = TestSpark.tmpDir("graft-lake-cas")
    val t1 = LakeTable.create(spark, dir, numBuckets = 4)
    val t2 = LakeTable.load(spark, dir) // second writer, same version view
    t1.commit(Set.empty, Seq.empty, Map(0 -> 5L), Map("a" -> 1L))
    intercept[CommitConflictException] {
      t2.commit(Set.empty, Seq.empty, Map(0 -> 9L), Map("a" -> 1L))
    }
    // loser refreshes and retries — fence merges monotonically
    t2.refresh()
    t2.commit(Set.empty, Seq.empty, Map(0 -> 3L, 1 -> 7L), Map("a" -> 1L))
    val s = t2.snapshot
    assert(s.fence === Map(0 -> 5L, 1 -> 7L), "fence merge keeps per-partition max")
    assert(s.metrics("a") === 2L)
  }

  test("snapshot isolation: a reader pinned to an old snapshot is unaffected by new commits") {
    import graft.ingest.MergeApply
    import org.apache.spark.sql.functions._
    val dir = TestSpark.tmpDir("graft-lake-iso")
    val t = LakeTable.create(spark, dir, numBuckets = 4)
    def delta(content: String, seq: Long) = {
      import spark.implicits._
      Seq(("r1", "p1", "c", "scala", content))
        .toDF("repo", "path", "commit", "lang", "content")
        .select(col("repo"), col("path"), lit("insert").as("op"), lit(seq).as("seq"),
          struct(col("repo"), col("path"), col("commit"), col("lang"), col("content")).as("after"))
    }
    MergeApply.merge(t, delta("v1", 1L), Map.empty)
    val pinned = t.snapshot // reader's view
    MergeApply.merge(t, delta("v2", 2L), Map.empty)
    // reader still sees v1 through its pinned snapshot; a fresh read sees v2
    assert(t.read(pinned).select("content").collect()(0).getString(0) === "v1")
    assert(t.read().select("content").collect()(0).getString(0) === "v2")
  }

  test("orphaned commit dir (crash between write and commit) is invisible and expiry removes it") {
    val dir = TestSpark.tmpDir("graft-lake-orphan")
    val t = LakeTable.create(spark, dir, numBuckets = 4)
    t.commit(Set.empty, Seq.empty, Map(0 -> 1L), Map.empty) // v1, referenced data: none
    // simulate a writer that crashed after writing data but before committing
    val orphan = t.newCommitDataDir()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(orphan, "_bucket=0"), "") // placeholder file
    assert(t.read().count() === 0, "orphan data must be invisible to reads")
    // default grace treats the young dir as a possibly-in-flight commit
    graft.lake.Maintenance.expireSnapshots(t, keep = 1)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(orphan)),
      "a commit dir younger than the grace window must survive expiry " +
        "(it may belong to an in-flight commit racing this expiry)")
    // past the grace window it is a true orphan and goes
    graft.lake.Maintenance.expireSnapshots(t, keep = 1, graceMs = 0L)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(orphan)),
      "expiry must GC unreferenced commit dirs older than the grace window")
  }

  test("a truncated newest snapshot does not brick the table (falls back to previous version)") {
    val dir = TestSpark.tmpDir("graft-lake-torn")
    val t = LakeTable.create(spark, dir, numBuckets = 4)
    t.commit(Set.empty, Seq.empty, Map(0 -> 7L), Map.empty) // v1, valid
    // simulate an OS crash that left the next snapshot file torn
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "snapshots", "v000000000002.json"),
      """{"version":"2","parentVer""")
    // and one left empty: torn too, not a metadata shape to refuse
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "snapshots", "v000000000003.json"), "")
    val loaded = LakeTable.load(spark, dir)
    assert(loaded.snapshot.version === 1L, "must skip the torn newest snapshots")
    assert(loaded.snapshot.fence === Map(0 -> 7L))
    // and the next commit must still be able to advance (v2 exists but is junk
    // — the CAS collides; the writer surfaces the conflict rather than
    // silently overwriting someone else's file)
    intercept[CommitConflictException] {
      loaded.commit(Set.empty, Seq.empty, Map(0 -> 8L), Map.empty)
    }
  }

  test("relocated table (symlink spelling) survives expireSnapshots without data loss") {
    import graft.ingest.MergeApply
    import org.apache.spark.sql.functions._
    val dir = TestSpark.tmpDir("graft-lake-reloc")
    val t = LakeTable.create(spark, dir, numBuckets = 2)
    def delta(content: String, seq: Long) = {
      import spark.implicits._
      Seq(("r1", "p1", "c", "scala", content))
        .toDF("repo", "path", "commit", "lang", "content")
        .select(col("repo"), col("path"), lit("insert").as("op"), lit(seq).as("seq"),
          struct(col("repo"), col("path"), col("commit"), col("lang"), col("content")).as("after"))
    }
    MergeApply.merge(t, delta("v1", 1L), Map.empty)
    MergeApply.merge(t, delta("v2", 2L), Map.empty)
    // reach the same table through a DIFFERENT path spelling
    val link = java.nio.file.Paths.get(TestSpark.tmpDir("graft-lake-link"), "tbl")
    java.nio.file.Files.createSymbolicLink(link, java.nio.file.Paths.get(dir))
    val viaLink = LakeTable.load(spark, link.toString)
    graft.lake.Maintenance.expireSnapshots(viaLink, keep = 1, graceMs = 0L)
    // live data must still be readable through the original spelling
    val rows = LakeTable.load(spark, dir).read().select("content").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("v2"),
      "expiry through an alternate path spelling must not GC live data")
  }

  test("segmented manifests: commit cost and snapshot bytes are O(changed files) at 10^5 files") {
    import java.nio.file.{Files, Paths}
    val dir = TestSpark.tmpDir("graft-lake-manifests")
    val t = LakeTable.create(spark, dir, numBuckets = 16)
    def mkFiles(commit: Int, n: Int): Seq[DataFile] = (0 until n).map { i =>
      DataFile(bucket = i % 16, path = s"data/c$commit/_bucket=${i % 16}/f$i.parquet",
        schemaId = 0, rows = 10L, minKey = commit * 1000000L + 2L * i,
        maxKey = commit * 1000000L + 2L * i + 1L, bytes = 1024L)
    }
    // accrete 100k files over 20 commits (the steady-state shape: each commit
    // adds its own manifest; untouched manifests are reused by reference)
    (1 to 20).foreach(c => t.commit(Set.empty, mkFiles(c, 5000), Map.empty, Map.empty))
    val snap = t.snapshot
    assert(snap.files.size === 100000)
    assert(snap.manifests.nonEmpty && snap.manifests.size <= Manifest.MaxManifests)
    // snapshot POINTER bytes are O(#manifests), not O(files): an inline
    // snapshot of 100k entries is ~15 MB of JSON
    val pointerBytes = Files.size(Paths.get(dir, "snapshots", f"v${snap.version}%012d.json"))
    assert(pointerBytes < 64 * 1024, s"snapshot pointer must stay small, was $pointerBytes bytes")

    // incremental commit: replace ONE file, add one — must rewrite only the
    // manifest containing it and write O(changed) manifest bytes
    def manifestFiles(): Map[String, Long] =
      LakeTable.listDir(Paths.get(dir, "manifests"))
        .map(p => p.getFileName.toString -> Files.size(p)).toMap
    val before = manifestFiles()
    val totalManifestBytes = before.values.sum
    val victim = snap.files.head
    t.commit(Set(victim.path), mkFiles(99, 1), Map.empty, Map.empty)
    val after = manifestFiles()
    val newBytes = (after.keySet -- before.keySet).toSeq.map(after).sum
    assert(newBytes < totalManifestBytes / 5,
      s"incremental commit wrote $newBytes manifest bytes vs $totalManifestBytes total — not O(changed)")
    // untouched manifests are REUSED by reference across the commit
    val reused = t.snapshot.manifests.map(_.path).toSet
      .intersect(snap.manifests.map(_.path).toSet)
    assert(reused.size >= snap.manifests.size - 2,
      "all but the touched manifest(s) must be reused by reference")
    // hydration equality: a fresh load reconstructs the same file set
    val reloaded = LakeTable.load(spark, dir).snapshot
    assert(reloaded.files.toSet === t.snapshot.files.toSet)
    assert(reloaded.files.size === 100000)
    assert(!reloaded.files.exists(_.path == victim.path))
  }

  test("lazy hydration: fresh load + fence-only commit + /report read ZERO manifest files") {
    val dir = TestSpark.tmpDir("graft-lake-lazy")
    val t = LakeTable.create(spark, dir, numBuckets = 16)
    def mkFiles(commit: Int, n: Int): Seq[DataFile] = (0 until n).map { i =>
      DataFile(bucket = i % 16, path = s"data/c$commit/_bucket=${i % 16}/f$i.parquet",
        schemaId = 0, rows = 10L, minKey = commit * 1000000L + 2L * i,
        maxKey = commit * 1000000L + 2L * i + 1L, bytes = 1024L)
    }
    (1 to 20).foreach(c => t.commit(Set.empty, mkFiles(c, 5000), Map.empty, Map.empty))
    // cold process: drop the manifest cache so IO counting is honest
    Manifest.clearCacheForTest()
    val before = Manifest.diskReads.get()
    val t2 = LakeTable.load(spark, dir)
    // sizes/rows answer from the pointer's manifest stats, not from entries
    assert(t2.snapshot.files.size === 100000)
    assert(t2.snapshot.totalRows === 100000L * 10)
    t2.commit(Set.empty, Seq.empty, Map(0 -> 42L), Map("fenceOnly" -> 1L)) // streaming hot path
    assert(t2.snapshot.files.size === 100000)
    val reportJson = LakeTable.peekSnapshot(dir).get.toJson // what /report serves
    assert(reportJson.contains("manifestList"))
    assert(Manifest.diskReads.get() === before,
      s"load + fence-only commit + report must read zero manifest files, " +
        s"read ${Manifest.diskReads.get() - before}")
    // first real entry access hydrates — and reconstructs the exact file set
    assert(t2.snapshot.files.iterator.map(_.rows).sum === 100000L * 10)
    assert(Manifest.diskReads.get() > before, "forcing entries must hydrate")
  }

  test("expiry GCs manifests referenced by no retained snapshot (grace-window protected)") {
    import java.nio.file.{Files, Paths}
    val dir = TestSpark.tmpDir("graft-lake-mfgc")
    val t = LakeTable.create(spark, dir, numBuckets = 4)
    def mkFiles(c: Int) = Seq(DataFile(0, s"data/c$c/f.parquet", 0, 5L, c * 100L, c * 100L + 9L, 64L))
    t.commit(Set.empty, mkFiles(1), Map.empty, Map.empty)                  // v1: manifest A
    t.commit(Set(s"data/c1/f.parquet"), mkFiles(2), Map.empty, Map.empty)  // v2: A rewritten→B
    t.commit(Set.empty, mkFiles(3), Map.empty, Map.empty)                  // v3: B reused + C
    def manifests() = LakeTable.listDir(Paths.get(dir, "manifests")).map(_.getFileName.toString).toSet
    val before = manifests()
    assert(before.size === 3, s"A (dead), B, C expected: $before")
    // young manifests survive (could belong to an in-flight commit)
    graft.lake.Maintenance.expireSnapshots(t, keep = 1)
    assert(manifests() === before, "grace window must protect young manifests")
    // past the grace window, only the retained snapshot's manifests remain
    graft.lake.Maintenance.expireSnapshots(t, keep = 1, graceMs = 0L)
    val after = manifests()
    assert(after === t.snapshot.manifests.map(m =>
      Paths.get(m.path).getFileName.toString).toSet,
      s"expiry must drop manifests referenced by no retained snapshot: $after")
    assert(after.size === 2, "v3 references B and C; A must be gone")
    // the live table still reads through its (retained) manifests
    assert(LakeTable.load(spark, dir).snapshot.files.map(_.path).toSet ===
      (mkFiles(2) ++ mkFiles(3)).map(_.path).toSet)
  }

  test("a torn manifest degrades like a torn snapshot (fall back to previous version)") {
    // crash model: manifests are fsynced BEFORE the pointer publishes, so a
    // published snapshot's manifests are durable — a torn manifest means
    // disk corruption, and the reader must fall back, not brick the table
    val dir = TestSpark.tmpDir("graft-lake-tornmf")
    val t = LakeTable.create(spark, dir, numBuckets = 4)
    def mkFiles(c: Int) = Seq(DataFile(0, s"data/c$c/f.parquet", 0, 5L, c * 100L, c * 100L + 9L, 64L))
    t.commit(Set.empty, mkFiles(1), Map.empty, Map.empty) // v1: manifest A
    t.commit(Set.empty, mkFiles(2), Map.empty, Map.empty) // v2: A reused + manifest B
    val v2 = t.snapshot
    assert(v2.manifests.size === 2)
    val onlyInV2 = (v2.manifests.map(_.path).toSet --
      t.snapshotAt(1).manifests.map(_.path).toSet).head
    // fresh process (cold cache): simulate by corrupting the file AND making
    // the cache miss via a COPY of the table dir under a new path
    val dir2 = TestSpark.tmpDir("graft-lake-tornmf2")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(dir), new java.io.File(dir2))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir2).resolve(onlyInV2), """{"bucket": torn""")
    val loaded = LakeTable.load(spark, dir2)
    assert(loaded.snapshot.version === 1L,
      "a snapshot whose manifest is unreadable must be skipped like a torn pointer")
    assert(loaded.snapshot.files.map(_.path) === mkFiles(1).map(_.path))
  }

  test("time travel: snapshotAt reads any committed version") {
    val dir = TestSpark.tmpDir("graft-lake-tt")
    val t = LakeTable.create(spark, dir, numBuckets = 4)
    t.commit(Set.empty, Seq.empty, Map(0 -> 1L), Map.empty)
    t.commit(Set.empty, Seq.empty, Map(0 -> 2L), Map.empty)
    assert(t.snapshotAt(0).fence === Map.empty)
    assert(t.snapshotAt(1).fence === Map(0 -> 1L))
    assert(t.snapshot.version === 2 && t.snapshot.fence === Map(0 -> 2L))
  }
}
