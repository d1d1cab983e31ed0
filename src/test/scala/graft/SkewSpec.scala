package graft

import graft.gen.{ChangelogGen, GenConfig, Oracle}
import graft.ingest.Ingest
import graft.lake.LakeTable
import graft.log.ChangeLog
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew (north rule: hot-repo skew handled explicitly): an extreme power-law
  * changelog — one repo receives the overwhelming majority of events — must
  * converge. Hash-bucketing on (repo, path) spreads a hot repo's paths over
  * all buckets, and a hot single KEY collapses in the dedup's map-side
  * partial aggregation.
  */
class SkewSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cfg = GenConfig(seed = 41L, nEvents = 15000L, nRepos = 40,
    pathsPerRepo = 12, skew = 12.0, // repo 0 gets ~80%+ of all events
    nPartitions = 4, contentLen = 60)

  test("extreme hot-repo skew converges and spreads over every bucket") {
    import spark.implicits._
    val events = ChangelogGen.eventsLocal(cfg)
    // confirm the workload IS skewed: top repo holds > 60% of row events
    val byRepo = events.filter(_.op != "ddl").groupBy(_.repo).view.mapValues(_.size)
    val top = byRepo.values.max.toDouble / events.size
    assert(top > 0.6, f"generator must produce a hot repo (top=$top%.2f)")

    val oracle = Oracle.contentSha(Oracle.replay(events))
      .map { case ((r, p), (sha, _)) => (r, p, sha) }.toSet

    val batched = LakeTable.create(spark, TestSpark.tmpDir("graft-skew"), numBuckets = 8)
    events.grouped(5000).foreach(b => Ingest.applyBatch(batched, b.toDS().toDF()))
    val got = batched.read()
      .select(col("repo"), col("path"), sha2(col("content"), 256))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(got === oracle, "skewed convergence failed")

    // the hot repo's keys spread across ALL buckets (no single-bucket hotspot)
    val table = LakeTable.create(spark, TestSpark.tmpDir("graft-skew-b"), numBuckets = 8)
    Ingest.applyBatch(table, events.toDS().toDF())
    val hotRepo = byRepo.maxBy(_._2)._1
    val buckets = table.read().filter(col("repo") === hotRepo)
      .select(pmod(hash(col("repo"), col("path")), lit(8)))
      .distinct().count()
    assert(buckets >= 6, s"hot repo must spread over buckets (got $buckets/8)")
  }
}
