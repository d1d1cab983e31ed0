package graft

import graft.ingest.MergeApply
import graft.lake.{LakeTable, Maintenance, Snapshot}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable
import scala.util.Random

/** Base-file scans plan from the manifest: no listing job, and a read whose
  * filter pins one (repo, path) key opens only the file(s) whose bucket and
  * `_hkey` range can hold it — without ever changing an answer.
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

  private def keyed(df: DataFrame, key: (String, String)): DataFrame =
    df.filter(col("repo") === key._1 && col("path") === key._2)

  /** Files the scans of an executed plan read ("number of files read"). */
  private def filesRead(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum

  /** Spark jobs `body` starts, counted by a SparkListener. Marker jobs run
    * before and after `body`; listener events arrive in order, so once the
    * closing marker has ended every job in between has been seen. */
  private def jobsDuring[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val markerProp = "graft.test.marker"
    val events = mutable.ArrayBuffer.empty[String] // "job" or a marker name
    val ended = new java.util.concurrent.CountDownLatch(1)
    var closingJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = events.synchronized {
        val marker = Option(e.properties).flatMap(p => Option(p.getProperty(markerProp)))
        events += marker.getOrElse("job")
        if (marker.contains("close")) closingJob = e.jobId
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = events.synchronized {
        if (e.jobId == closingJob) ended.countDown()
      }
    }
    def marker(name: String): Unit = {
      sc.setLocalProperty(markerProp, name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(markerProp, null)
    }
    sc.addSparkListener(listener)
    try {
      marker("open")
      val out = body
      marker("close")
      assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener never saw the marker")
      val seen = events.synchronized(events.toList)
      (seen.dropWhile(_ != "open").drop(1).takeWhile(_ != "close").size, out)
    } finally sc.removeSparkListener(listener)
  }

  private def rowsOf(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq).sortBy(_.mkString("|"))

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
    val (jobs, (rows, df)) = jobsDuring {
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

  test("pruning never changes an answer: two schema groups, compaction, rebucket, legacy sizes") {
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

    // legacy manifest entries without recorded sizes: the index stats them
    val legacy = evolved.copy(files = evolved.files.map(_.copy(bytes = 0L)), manifests = Seq.empty)
    assertPruningExact(table, legacy, rnd, "zeroed sizes")

    Maintenance.compact(table, force = true)
    assertPruningExact(table, table.snapshot, rnd, "after compaction")

    val beforeRebucket = table.snapshot
    Maintenance.rebucket(table, 16)
    assert(table.snapshot.numBuckets === 16)
    assertPruningExact(table, table.snapshot, rnd, "after rebucket")
    // time travel across the rebucket prunes under the OLD bucket count
    assertPruningExact(table, table.snapshotAt(beforeRebucket.version), rnd, "pre-rebucket snapshot")
  }
}
