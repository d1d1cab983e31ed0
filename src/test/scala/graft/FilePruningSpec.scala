package graft

import graft.ingest.MergeApply
import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-level copy-on-write: manifest key-range stats must confine a point
  * update to the file(s) actually containing the key — the write-amplification
  * contract that makes incremental CDC viable at 10^10-event scale (rewriting
  * whole buckets would be O(table) per batch).
  */
class FilePruningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def delta(ids: Seq[Long], op: String, seqOf: Long => Long,
      content: Long => String): DataFrame = {
    import spark.implicits._
    ids.toDF("id").select(
      concat(lit("repo-"), col("id") % 40).as("repo"),
      concat(lit("src/f"), col("id"), lit(".scala")).as("path"),
      lit(op).as("op"),
      udf(seqOf).apply(col("id")).as("seq"),
      struct(
        concat(lit("repo-"), col("id") % 40).as("repo"),
        concat(lit("src/f"), col("id"), lit(".scala")).as("path"),
        lit("c0").as("commit"),
        lit("scala").as("lang"),
        udf(content).apply(col("id")).as("content")).as("after"))
  }

  test("a 1-key update rewrites exactly the one file containing the key") {
    val dir = TestSpark.tmpDir("graft-prune")
    val table = LakeTable.create(spark, dir, numBuckets = 4, targetFileRows = 500L)

    val n = 10000L
    val r1 = MergeApply.merge(table, delta(0L until n, "insert", id => id, id => s"v1-$id"), Map.empty)
    assert(r1.eventsApplied === n)
    val files1 = table.snapshot.files
    assert(files1.size >= 16, s"expected targetFileRows=500 to split ~2500-row buckets, got ${files1.size} files")
    // layout contract: within a bucket, files cover disjoint key ranges
    files1.groupBy(_.bucket).foreach { case (b, fs) =>
      val sorted = fs.sortBy(_.minKey)
      sorted.sliding(2).foreach {
        case Seq(a, c) => assert(a.maxKey < c.minKey, s"overlapping ranges in bucket $b")
        case _ => ()
      }
    }

    val r2 = MergeApply.merge(table,
      delta(Seq(1234L), "update", _ => n + 1, id => s"v2-$id"), Map.empty)
    assert(r2.filesRewritten === 1,
      s"a point update must rewrite exactly 1 file, rewrote ${r2.filesRewritten}")
    val files2 = table.snapshot.files
    assert(files1.map(_.path).toSet.intersect(files2.map(_.path).toSet).size === files1.size - 1,
      "all other files must survive the commit untouched")

    // correctness: the update landed, everything else intact
    val rows = table.read()
    assert(rows.count() === n)
    assert(rows.filter(col("path") === "src/f1234.scala").select("content")
      .collect()(0).getString(0) === "v2-1234")
    assert(rows.filter(col("content").startsWith("v1-")).count() === n - 1)
  }

  test("a delete + re-insert round-trip through pruned merges converges") {
    val dir = TestSpark.tmpDir("graft-prune2")
    val table = LakeTable.create(spark, dir, numBuckets = 4, targetFileRows = 200L)
    MergeApply.merge(table, delta(0L until 2000L, "insert", id => id, id => s"a-$id"), Map.empty)
    val rDel = MergeApply.merge(table, delta(Seq(7L), "delete", _ => 5000L, _ => ""), Map.empty)
    assert(rDel.tombstonesWritten === 1 && rDel.filesRewritten === 1)
    assert(table.read().count() === 1999)
    // stale replayed update (seq below the tombstone) must NOT resurrect
    val rStale = MergeApply.merge(table, delta(Seq(7L), "update", _ => 9L, id => s"stale-$id"), Map.empty)
    assert(rStale.conflictsLww === 1 && table.read().count() === 1999)
    // genuine re-insert after the delete wins
    MergeApply.merge(table, delta(Seq(7L), "insert", _ => 6000L, id => s"b-$id"), Map.empty)
    assert(table.read().filter(col("path") === "src/f7.scala").select("content")
      .collect()(0).getString(0) === "b-7")
  }

  test("incremental merge physical plan: base side feeds the join with no Exchange") {
    val dir = TestSpark.tmpDir("graft-prune-plan")
    val table = LakeTable.create(spark, dir, numBuckets = 4, targetFileRows = 1000L)
    MergeApply.merge(table, delta(0L until 5000L, "insert", id => id, id => s"a-$id"), Map.empty)
    // reconstruct the broadcast-path matched join and inspect its plan: the
    // big (base) side must reach BroadcastHashJoin directly from the scan
    val sel = MergeApply.selectFiles(table, delta(Seq(10L), "update", _ => 9000L, id => s"u-$id"))
    val base = table.readInternal(table.snapshot, sel.files).alias("b")
    val d = delta(Seq(10L), "update", _ => 9000L, id => s"u-$id").alias("d")
    val joined = base.join(broadcast(d),
      col("b.repo") === col("d.repo") && col("b.path") === col("d.path"), "left_outer")
    val physical = joined.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"), s"expected BHJ:\n$physical")
    assert(!physical.contains("Exchange hashpartitioning"),
      s"base side must not shuffle:\n$physical")
  }

  test("a 100k-entry manifest selects via broadcast lookup with no plan-size blowup") {
    import graft.lake.DataFile
    val dir = TestSpark.tmpDir("graft-prune-bigmanifest")
    val table = LakeTable.create(spark, dir, numBuckets = 4, targetFileRows = 500L)
    // real base so the selected files are readable
    MergeApply.merge(table, delta(0L until 2000L, "insert", id => id, id => s"a-$id"), Map.empty)
    val realFiles = table.snapshot.files
    // graft 100k synthetic manifest entries with key ranges DISJOINT from any
    // real key (all real hkeys land outside [3,2_000_000] only by luck — use
    // a reserved range far below the realistic xxhash64 span instead): ranges
    // [k, k+1] for k in 10..100k are vanishingly unlikely to contain a real
    // 64-bit xxhash64 key, so the delta must hit ONLY the real file.
    val synthetic = (0 until 100000).map { i =>
      DataFile(bucket = i % 4, path = s"data/synthetic/f$i.parquet",
        schemaId = table.schema.schemaId, rows = 1L,
        minKey = 10L + 2L * i, maxKey = 11L + 2L * i, bytes = 512L)
    }
    table.commit(Set.empty, synthetic, Map.empty, Map.empty)
    val snap = table.snapshot
    assert(snap.files.size > 100000)
    assert(!MergeApply.useLiteralManifest(snap), "large manifest must not use the plan-literal map")

    val d = delta(Seq(77L), "update", _ => 99999L, id => s"u-$id")
    // receipt: the lookup's plan is O(1) in manifest size — above
    // ScanManifestMinFiles the snapshot plans a manifest-file SCAN
    // (no 100k-row LocalRelation serialized into the plan at all)
    assert(snap.manifests.nonEmpty, "committed snapshot must be segmented")
    val hits = MergeApply.fileHitsDF(table, snap, d,
      table.bucketExpr(col("repo"), col("path")), table.hkeyExpr(col("repo"), col("path")))
    val planStr = hits.queryExecution.optimizedPlan.toString
    assert(planStr.length < 100000, s"plan string blew up: ${planStr.length} chars")
    assert(planStr.contains("json") || planStr.toLowerCase.contains("relation"),
      s"expected a manifest-file scan in the plan:\n${planStr.take(2000)}")

    val sel = MergeApply.selectFiles(table, d)
    assert(sel.deltaRowsHint === 1L)
    assert(sel.files.forall(f => realFiles.map(_.path).contains(f.path)),
      "selection must hit only the real file(s), never the synthetic ranges")
    assert(sel.files.size === 1)

    // the merge itself must also stay off the literal path (stats pass)
    val r = MergeApply.merge(table, d, Map.empty, selection = Some(sel))
    assert(r.eventsApplied === 1)
    // synthetic manifest paths have no backing parquet — read only real files
    val live = table.snapshot.files.filterNot(_.path.startsWith("data/synthetic"))
    assert(table.readInternal(table.snapshot, live)
      .filter(col("content") === "u-77").count() === 1)
  }

  test("broadcast-incremental strategy is chosen for small deltas over a large base") {
    val dir = TestSpark.tmpDir("graft-prune3")
    val table = LakeTable.create(spark, dir, numBuckets = 4, targetFileRows = 1000L)
    MergeApply.merge(table, delta(0L until 5000L, "insert", id => id, id => s"a-$id"), Map.empty)
    // sanity on the selection plumbing callers use
    val sel = MergeApply.selectFiles(table, delta(Seq(42L, 43L), "update", _ => 9000L, id => s"u-$id"))
    assert(sel.deltaRowsHint === 2L)
    assert(sel.files.nonEmpty && sel.files.size <= 2)
    val r = MergeApply.merge(table,
      delta(Seq(42L, 43L), "update", _ => 9000L, id => s"u-$id"), Map.empty,
      selection = Some(sel))
    assert(r.eventsApplied === 2)
    assert(table.read().filter(col("content").startsWith("u-")).count() === 2)
  }
}
