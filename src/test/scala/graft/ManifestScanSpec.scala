package graft

import graft.gen.{ChangelogGen, GenConfig, Oracle}
import graft.ingest.{ChainApply, Ingest, MergeApply, Mor}
import graft.lake.{ChangeFeed, LakeTable, Maintenance, ManifestFileIndex, MorRead, Snapshot}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Scans plan from the manifest: no listing job, and a read whose filter
  * pins one (repo, path) key opens only the file(s) whose bucket and `_hkey`
  * range can hold it — without ever changing an answer. Merge-on-read reads
  * scan their delta files from the manifest too (with the schemas recorded at
  * write), their Spark jobs are pinned, and a keyed one opens one base file.
  */
class ManifestScanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private def keyOf(id: Long): (String, String) = (s"repo-${id % 40}", s"src/f$id.scala")

  /** Row events for keys `ids`; `langCol` names the after-image's language
    * field (the current name of column 4). */
  private def delta(ids: Seq[Long], op: String, seq: Long, tag: String,
      langCol: String = "lang"): DataFrame = {
    import spark.implicits._
    ids.toDF("id").select(
      concat(lit("repo-"), col("id") % 40).as("repo"),
      concat(lit("src/f"), col("id"), lit(".scala")).as("path"),
      lit(op).as("op"),
      lit(seq).as("seq"),
      struct(
        concat(lit("repo-"), col("id") % 40).as("repo"),
        concat(lit("src/f"), col("id"), lit(".scala")).as("path"),
        lit("c0").as("commit"),
        lit("scala").as(langCol),
        concat(lit(s"$tag-"), col("id")).as("content")).as("after"))
  }

  /** The most delta rows one bucket of `s` holds, off the manifest. */
  private def densest(s: Snapshot): Long =
    s.deltaFiles.groupBy(_.bucket).values.map(_.iterator.map(_.rows).sum).max

  private def keyed(df: DataFrame, key: (String, String)): DataFrame =
    df.filter(col("repo") === key._1 && col("path") === key._2)

  /** Files the scans of an executed plan read ("number of files read"). */
  private def filesRead(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum

  private def rowsOf(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** Files each scan of an executed plan read, split into base-file scans
    * (their data schema carries `_seq`) and delta-file scans. */
  private def scansRead(df: DataFrame): (Seq[Long], Seq[Long]) = {
    val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
      assert(s.relation.location.isInstanceOf[ManifestFileIndex], s"a listed scan:\n$s")
      (s.relation.dataSchema.fieldNames.contains(LakeTable.SeqCol), s.metrics("numFiles").value)
    }
    (scans.collect { case (true, n) => n }, scans.collect { case (false, n) => n })
  }

  /** A keyed read of the merge-on-read snapshot `s` for each of `keys`
    * equals the unpruned read filtered on the driver, builds its plan without
    * a Spark job (no listing, no schema merge), scans through manifest
    * indexes only, opens at most one base file per scan (one scan per schema
    * group and join side) and, of the delta files, exactly those labeled
    * with the key's bucket. (A scan whose join side turned out empty is
    * dropped from the final adaptive plan; at least one key must show both
    * kinds of scan.) */
  private def assertKeyedMorReads(table: LakeTable, s: Snapshot,
      keys: Seq[(String, String)], what: String): Unit = {
    val all = table.read(s).collect()
    val scanned = keys.map { key =>
      val (planJobs, df) = TestSpark.jobsDuring(keyed(table.read(s), key))
      assert(planJobs === 0, s"$what: building the keyed read of $key ran a job")
      val want = all.filter(r => r.getAs[String]("repo") == key._1 && r.getAs[String]("path") == key._2)
      assert(rowsOf(df.collect()) === rowsOf(want), s"$what: keyed read of $key differs")
      val bucket = spark.range(1).select(LakeTable.bucketExpr(lit(key._1), lit(key._2), s.numBuckets))
        .head().getInt(0)
      val (base, deltas) = scansRead(df)
      assert(base.forall(_ <= 1L), s"$what: base files opened per scan for $key: $base")
      val ofBucket = s.deltaFiles.count(_.bucket == bucket)
      assert(deltas.forall(_ == ofBucket),
        s"$what: delta files opened per scan for $key: $deltas (the key's bucket holds $ofBucket)")
      base.sum > 0L && deltas.sum > 0L
    }
    assert(scanned.contains(true), s"$what: no keyed read scanned base and delta files")
  }

  /** Pruned keyed reads of live, tombstoned and absent keys equal the
    * unpruned read filtered on the driver. Returns the most files one keyed
    * read opened. */
  private def assertPruningExact(table: LakeTable, s: Snapshot, rnd: Random, what: String): Long = {
    val all = table.read(s).collect()
    val dead = table.readInternal(s, s.files).filter(col("_deleted"))
      .select(col("repo"), col("path")).collect().map(r => (r.getString(0), r.getString(1)))
    val live = all.map(r => (r.getAs[String]("repo"), r.getAs[String]("path")))
    assert(live.nonEmpty && dead.nonEmpty, s"$what: test needs live and tombstoned keys")
    def pick(keys: Array[(String, String)], n: Int) = Seq.fill(n)(keys(rnd.nextInt(keys.length)))
    val absent = Seq.fill(3)(keyOf(100000L + rnd.nextInt(100000))) :+ ("repo-1", "src/f2.scala")
    var maxOpened = 0L
    (pick(live, 4) ++ pick(dead, 3) ++ absent).foreach { key =>
      val df = keyed(table.read(s), key)
      val got = df.collect()
      maxOpened = math.max(maxOpened, filesRead(df))
      val want = all.filter(r => r.getAs[String]("repo") == key._1 && r.getAs[String]("path") == key._2)
      assert(rowsOf(got) === rowsOf(want), s"$what: pruned read of $key differs")
    }
    maxOpened
  }

  test("a keyed read on a 64-bucket table runs one job and opens one file") {
    val table = LakeTable.create(spark, TestSpark.tmpDir("graft-mscan"), numBuckets = 64)
    MergeApply.merge(table, delta(0L until 2000L, "insert", 1L, "v1"), Map.empty)
    assert(table.snapshot.files.size > 32, "the listing path only parallelizes above 32 files")

    val key = keyOf(1234L)
    val (jobs, (rows, df)) = TestSpark.jobsDuring {
      val df = keyed(table.read(), key)
      (df.collect(), df)
    }
    assert(rows.map(_.getAs[String]("content")).toSeq === Seq("v1-1234"))
    assert(jobs === 1, "a keyed read must plan without a listing job")
    assert(filesRead(df) === 1, "only the file holding the key may be opened")

    // a filter that pins only part of the key prunes nothing
    val byRepo = table.read().filter(col("repo") === key._1)
    assert(byRepo.collect().length === 50)
    assert(filesRead(byRepo) === table.snapshot.files.size)
  }

  test("pruning never changes an answer: two schema groups, compaction, rebucket") {
    val rnd = new Random(4242L)
    val table = LakeTable.create(spark, TestSpark.tmpDir("graft-mscan-prop"), numBuckets = 8,
      targetFileRows = 40L)
    MergeApply.merge(table, delta(0L until 1200L, "insert", 1L, "v1"), Map.empty)
    MergeApply.merge(table, delta(0L until 1200L by 7, "delete", 2L, ""), Map.empty)
    // rename a non-key column, then write under the new schema: sparse
    // writes rewrite a few files, so files of two schema ids share buckets
    table.evolveSchema(_.renameColumn("lang", "language"))
    MergeApply.merge(table, delta(0L until 1200L by 97, "update", 3L, "v3", "language"), Map.empty)
    MergeApply.merge(table, delta(1200L until 1203L, "insert", 3L, "v3", "language"), Map.empty)
    MergeApply.merge(table, delta(3L until 1203L by 89, "delete", 4L, ""), Map.empty)
    val evolved = table.snapshot
    assert(evolved.files.map(_.schemaId).distinct.size === 2, "test needs two schema groups")
    assert(evolved.files.size > 20)
    assert(assertPruningExact(table, evolved, rnd, "two schema groups") <= 2L,
      "a keyed read must open only the files whose range can hold the key")

    Maintenance.compact(table, force = true)
    assertPruningExact(table, table.snapshot, rnd, "after compaction")

    val beforeRebucket = table.snapshot
    Maintenance.rebucket(table, 16)
    assert(table.snapshot.numBuckets === 16)
    assertPruningExact(table, table.snapshot, rnd, "after rebucket")
    // time travel across the rebucket prunes under the OLD bucket count
    assertPruningExact(table, table.snapshotAt(beforeRebucket.version), rnd, "pre-rebucket snapshot")
  }

  test("merge-on-read reads pin their Spark jobs: full, keyed, change-feed window, chain bootstrap") {
    val cfg = GenConfig(seed = 61L, nEvents = 3000L, nRepos = 20, pathsPerRepo = 10,
      nPartitions = 2, contentLen = 40)
    val events = ChangelogGen.eventsLocal(cfg)
    val log = ChangelogGen.events(spark, cfg).toDF()
    val mor = Ingest.IngestConfig(morMode = true)
    val table = LakeTable.create(spark, TestSpark.tmpDir("graft-mscan-mor"), numBuckets = 8)
    // base files, then deltas whose densest bucket a partial fold folds,
    // then more deltas, so some buckets hold files of two appends
    Ingest.replayLog(table, log.filter(col("seq") <= 1000L))
    Ingest.replayLog(table, log.filter(col("seq") > 1000L && col("seq") <= 2000L), mor)
    Mor.fold(table, minEventsPerBucket = densest(table.snapshot))
    val v1 = table.snapshot.version
    Ingest.replayLog(table, log.filter(col("seq") > 2000L), mor)
    val s = table.snapshot
    assert(s.files.nonEmpty && s.deltaFiles.groupBy(_.bucket).values.exists(_.size > 1),
      "fixture: base files and buckets holding several delta files")

    def shas(rows: Array[Row]): Set[(String, String, String)] = rows.map(r =>
      (r.getAs[String]("repo"), r.getAs[String]("path"), Oracle.sha256Hex(r.getAs[String]("content")))).toSet
    val want = Oracle.contentSha(Oracle.replay(events)).map { case ((r, p), (sha, _)) => (r, p, sha) }.toSet

    val (fullJobs, all) = TestSpark.jobsDuring(table.read().collect())
    assert(shas(all) === want)

    val key = events.filter(e => e.seq > 2000L && e.op == "update").map(e => (e.repo, e.path))
      .find(k => want.exists(w => (w._1, w._2) == k)).get
    val (keyedJobs, one) = TestSpark.jobsDuring(keyed(table.read(), key).collect())
    assert(shas(one) === want.filter(w => (w._1, w._2) == key))
    val absent = ("repo-none", "src/none.scala")
    val deleted = events.filter(e => e.seq > 2000L && e.op == "delete").map(e => (e.repo, e.path))
      .find(k => !want.exists(w => (w._1, w._2) == k)).get
    assertKeyedMorReads(table, s, Seq(key, deleted, absent) ++ all.take(3).map(r =>
      (r.getAs[String]("repo"), r.getAs[String]("path"))), "MOR fixture")

    val (feedJobs, feed) = TestSpark.jobsDuring(ChangeFeed.changesBetween(table, v1, s.version).collect())
    val before = Oracle.replay(events.filter(_.seq <= 2000L)).rows
    val after = Oracle.replay(events).rows
    val wantFeed = (before.keySet ++ after.keySet).flatMap { k =>
      (before.get(k), after.get(k)) match {
        case (None, Some(n)) => Some((k, "insert", Oracle.sha256Hex(n.row.content)))
        case (Some(o), Some(n)) if o.seq != n.seq => Some((k, "update", Oracle.sha256Hex(n.row.content)))
        case (Some(o), None) => Some((k, "delete", Oracle.sha256Hex(o.row.content)))
        case _ => None
      }
    }
    assert(feed.map(r => ((r.getAs[String]("repo"), r.getAs[String]("path")),
      r.getAs[String](ChangeFeed.OpColName), Oracle.sha256Hex(r.getAs[String]("content")))).toSet === wantFeed)

    val dst = LakeTable.create(spark, TestSpark.tmpDir("graft-mscan-chain"), numBuckets = 8)
    val (chainJobs, _) = TestSpark.jobsDuring(ChainApply.sync(table, dst))
    assert(shas(dst.read().collect()) === want)

    // delta files scan from the manifest with their recorded schemas (no
    // listing, no schema-merge job), and a keyed read's filter reaches the
    // base scan; the keyed read's insert residue still runs its own anti-join
    assert((fullJobs, keyedJobs, feedJobs, chainJobs) === ((5, 4, 12, 17)),
      "Spark jobs of (full read, keyed read, change-feed window, chain bootstrap)")
  }

  test("recorded delta schemas read like the footer merge across add_column and rename_column") {
    val table = LakeTable.create(spark, TestSpark.tmpDir("graft-mscan-evo"), numBuckets = 8,
      targetFileRows = 40L)
    def withStars(df: DataFrame): DataFrame =
      df.withColumn("after", col("after").withField("stars", (col("seq") * 10).cast("int")))
    MergeApply.merge(table, delta(0L until 600L, "insert", 1L, "v1"), Map.empty)
    MergeApply.appendDelta(table, delta(0L until 600L by 5, "update", 2L, "v2"), Map.empty)
    table.evolveSchema(_.addColumn("stars", "int"))
    MergeApply.appendDelta(table, withStars(delta(0L until 600L by 7, "update", 3L, "v3")), Map.empty)
    // one dense bucket folds; the rest of the backlog stays in its files
    Mor.fold(table, minEventsPerBucket = densest(table.snapshot))
    table.evolveSchema(_.renameColumn("lang", "language"))
    MergeApply.appendDelta(table,
      withStars(delta(3L until 600L by 11, "update", 4L, "v4", "language")), Map.empty)
    MergeApply.appendDelta(table, delta(0L until 600L by 13, "delete", 5L, ""), Map.empty)
    MergeApply.appendDelta(table, delta(600L until 610L, "insert", 6L, "v6", "language"), Map.empty)
    val s = table.snapshot
    val images = s.deltaFiles.flatMap(_.eventSchema).map(_("after").dataType).distinct
    assert(s.deltaFiles.forall(_.eventSchema.isDefined) && images.size >= 3,
      s"fixture: delta files recording three image structs, got $images")

    // the one delta read equals Spark's own footer merge of the same files,
    // field by field of the merged image
    val footer = spark.read.option("mergeSchema", "true")
      .parquet(s.deltaFiles.map(f => table.resolve(f.path)): _*)
    val recorded = MorRead.deltaEvents(table, s.deltaFiles, s.numBuckets)
    def imageTypes(df: DataFrame): Map[String, Any] =
      df.schema("after").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fields.map(f => f.name -> f.dataType).toMap
    assert(imageTypes(recorded) === imageTypes(footer))
    def flatEvents(df: DataFrame): Seq[Seq[Any]] = rowsOf(df.select(
      Seq(col("repo"), col("path"), col("op"), col("seq")) ++
        imageTypes(footer).keys.toSeq.sorted.map(f => col(s"after.$f").as(s"after_$f")): _*).collect())
    assert(flatEvents(recorded) === flatEvents(footer), "recorded-schema read vs the footer merge")

    val all = table.read(s).collect()
    def byKey(rows: Array[Row]): Map[(String, String), Row] =
      rows.map(r => (r.getAs[String]("repo"), r.getAs[String]("path")) -> r).toMap
    val allByKey = byKey(all)
    def row(id: Long): Option[Row] = allByKey.get(keyOf(id))
    assert(row(3L).map(r => (r.getAs[String]("content"), r.getAs[String]("language"),
      r.getAs[Int]("stars"))) === Some(("v4-3", "scala", 40)))
    assert(row(7L).map(r => (r.getAs[String]("content"), r.getAs[Int]("stars"))) === Some(("v3-7", 30)))
    // key 5 was updated under `lang`, before the rename: its value survives
    // a backlog that also holds `language` events
    assert(row(5L).map(r => (r.getAs[String]("content"), r.getAs[String]("language"),
      r.getAs[Any]("stars"))) === Some(("v2-5", "scala", null)))
    assert(row(13L).isEmpty && row(605L).map(_.getAs[String]("content")) === Some("v6-605"))

    val keys = Seq(3L, 5L, 7L, 13L, 14L, 605L, 5000L).map(keyOf)
    assertKeyedMorReads(table, s, keys, "schema evolution")

    // the final fold writes what the read resolved, key 5's value included
    Mor.fold(table)
    val folded = byKey(table.read().collect())
    assert(folded.get(keyOf(5L)).map(r => (r.getAs[String]("content"), r.getAs[String]("language"))) ===
      Some(("v2-5", "scala")))
    assert(rowsOf(folded.values.toArray) === rowsOf(all), "the fold changes no row")

    // time travel across a rebucket: the old snapshot's labeled deltas prune
    // under its own bucket count, not the table's
    Maintenance.rebucket(table, 16)
    assert(rowsOf(table.read(s).collect()) === rowsOf(all), "pre-rebucket snapshot")
    assertKeyedMorReads(table, s, keys, "pre-rebucket snapshot")
  }
}
