package graft

import graft.gen.{ChangelogGen, GenConfig, Oracle}
import graft.ingest.{FilterChain, Ingest}
import graft.lake.{Json, LakeTable}
import graft.log.ChangeLog
import graft.streaming.{ProgressListener, StreamIngest}
import graft.streaming.StreamIngest.Rule
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}
import org.apache.spark.TaskContext
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Hooks a filter UDF fires inside the tasks of one micro-batch. Static, so
  * the local-mode executors that run the UDF see what the test arms. */
object StreamDriverSpecHooks {
  val stopArmed = new AtomicBoolean(false)
  val failArmed = new AtomicBoolean(false)
  val catchUpFailArmed = new AtomicBoolean(false)
  @volatile var failBatch: Long = -1L

  /** Spark stamps every job of a micro-batch with its batch id. */
  private def batchId: Option[String] =
    Option(TaskContext.get()).flatMap(tc => Option(tc.getLocalProperty("streaming.sql.batchId")))
  def inBatch(id: Long): Boolean = batchId.contains(id.toString)
  /** A job of no micro-batch: a catch-up replay. */
  def outsideBatches: Boolean = batchId.isEmpty
}

/** The one stream driver: its run report stays parseable through a graceful
  * stop, a rule that fails mid-batch leaves the other rules to commit that
  * batch, and untouched when the batch is redelivered, a pause
  * that skipped no batch costs nothing on resume, a failure of the idle
  * watcher ends the tail instead of hanging it, and a rule pipeline writes
  * its run report beside every rule's table. */
class StreamDriverSpec extends AnyFunSuite {
  import StreamDriverSpecHooks._
  private lazy val spark = TestSpark.spark

  private def oracle(cfg: GenConfig): Set[(String, String, String)] =
    Oracle.contentSha(Oracle.replay(ChangelogGen.eventsLocal(cfg)))
      .map { case ((r, p), (sha, _)) => (r, p, sha) }.toSet

  private def shaSet(dir: String): Set[(String, String, String)] =
    LakeTable.load(spark, dir).read()
      .select(col("repo"), col("path"), sha2(col("content"), 256))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  private def http(port: Int, method: String, path: String): String =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString()).body()

  private def await(what: String, seconds: Int = 120)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + seconds * 1000L
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(200)
    assert(cond, what)
  }

  private def fence(tableDir: String): Map[Int, Long] = LakeTable.load(spark, tableDir).snapshot.fence

  private def logFence(logDir: String): Map[Int, Long] =
    ChangeLog.readDF(spark, logDir).groupBy("partition").agg(max("offset")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** A log of `cfg` whose newest partition-0 segment is held back beside it;
    * returns the log dir and the held segment's (held, home) paths. */
  private def logHoldingBack(name: String, cfg: GenConfig): (String, (Path, Path)) = {
    val logDir = TestSpark.tmpDir(name)
    ChangeLog.write(ChangelogGen.events(spark, cfg), logDir, segmentsPerPartition = 3)
    val part0 = Paths.get(logDir, "partition=0")
    val newest = Files.list(part0).iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .maxBy(Files.getLastModifiedTime(_).toMillis)
    val held = Paths.get(TestSpark.tmpDir(name + "-held")).resolve(newest.getFileName)
    Files.createDirectories(held.getParent)
    Files.move(newest, held)
    (logDir, (held, newest))
  }

  /** The held-back segment arrives: a new file of the log. */
  private def release(seg: (Path, Path)): Unit = {
    Files.move(seg._1, seg._2)
    Files.setLastModifiedTime(seg._2, FileTime.fromMillis(System.currentTimeMillis()))
    ()
  }

  private def awaitPort(tableDir: String): Int = {
    val portFile = Paths.get(tableDir, "_control", "http.port")
    await("the control plane publishes its port")(Files.exists(portFile))
    Files.readString(portFile).trim.toInt
  }

  test("a graceful stop leaves one parseable JSON line per progress record; /progress is a JSON array") {
    val cfg = GenConfig(seed = 47L, nEvents = 4000L, nRepos = 20, pathsPerRepo = 10,
      nPartitions = 2, contentLen = 60)
    val logDir = TestSpark.tmpDir("graft-sd-stop-log")
    val tableDir = TestSpark.tmpDir("graft-sd-stop-table")
    val ckpt = TestSpark.tmpDir("graft-sd-stop-ckpt")
    ChangeLog.write(ChangelogGen.events(spark, cfg), logDir, segmentsPerPartition = 4)
    LakeTable.create(spark, tableDir, numBuckets = 4)

    // the stop is requested from inside batch 1, so batch 1 commits and
    // batch 2 ends the query at its boundary (GracefulStopException)
    val stopInBatch1 = udf { (_: String) =>
      if (inBatch(1L) && stopArmed.compareAndSet(true, false)) StreamIngest.requestStop(tableDir)
      true
    }
    stopArmed.set(true)
    val first = new Thread(() =>
      StreamIngest.tail(spark, logDir, tableDir, ckpt, maxFilesPerTrigger = 2,
        cfg = Ingest.IngestConfig(filter = FilterChain.passAll.add(stopInBatch1(col("repo"))))))
    first.start()
    first.join(120000)
    if (first.isAlive) { StreamIngest.requestStop(tableDir); first.join(60000); fail("the stop never fired") }
    assert(LakeTable.load(spark, tableDir).snapshot.committedBatchId === 1L,
      "the boundary stop ends the tail after batch 1")

    val progress = ProgressListener.file(tableDir)
    val lines = Files.readAllLines(progress).asScala.toSeq
    lines.foreach(l => assert(scala.util.Try(Json.parse(l)).isSuccess, s"unparseable progress line: ${l.take(200)}"))
    val terminated = lines.map(Json.parse).filter(n => Option(n.get("event")).exists(_.asText == "terminated"))
    assert(terminated.size === 1 && terminated.head.get("exception").isNull,
      "a graceful stop is recorded as a termination without an exception")

    // resume on the same checkpoint with the control plane up: the served
    // report (older lines included) is one JSON array
    val tailThread = new Thread(() =>
      StreamIngest.tail(spark, logDir, tableDir, ckpt, maxFilesPerTrigger = 8,
        cfg = Ingest.IngestConfig(), httpPort = Some(0)))
    tailThread.start()
    try {
      val portFile = Paths.get(tableDir, "_control", "http.port")
      val deadline = System.currentTimeMillis() + 120000
      while (!Files.exists(portFile) && System.currentTimeMillis() < deadline) Thread.sleep(100)
      val port = Files.readString(portFile).trim.toInt
      val body = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/progress")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(Json.parse(body).isArray, s"/progress must serve a JSON array: ${body.take(300)}")
      val fence = ChangelogGen.eventsLocal(cfg).groupBy(_.partition).map { case (p, es) => p -> es.map(_.offset).max }
      while (LakeTable.load(spark, tableDir).snapshot.fence != fence &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
    } finally {
      StreamIngest.requestStop(tableDir)
      tailThread.join(120000)
    }
    assert(!tailThread.isAlive, "tail must stop")
    assert(shaSet(tableDir) === oracle(cfg), "stop → resume loses nothing")
  }

  /** Rules `a` and `b` on one stream; rule `failing` throws once in batch
    * k, the last batch. The other rule commits k in that attempt; after a
    * restart it skips k's redelivery and the failed rule applies k once. */
  private def ruleFailsMidBatch(name: String, failing: String): Unit = {
    val cfg = GenConfig(seed = 53L, nEvents = 3000L, nRepos = 20, pathsPerRepo = 10,
      nPartitions = 2, contentLen = 60)
    val logDir = TestSpark.tmpDir(s"graft-sd-$name-log")
    val ckpt = TestSpark.tmpDir(s"graft-sd-$name-ckpt")
    val dirs = Seq("a", "b").map(r => r -> TestSpark.tmpDir(s"graft-sd-$name-$r")).toMap
    ChangeLog.write(ChangelogGen.events(spark, cfg), logDir, segmentsPerPartition = 3)
    dirs.values.foreach(LakeTable.create(spark, _, numBuckets = 4))
    // k is the LAST batch at 2 files per trigger, so the restart redelivers
    // k and nothing after it
    val segments = Files.walk(Paths.get(logDir)).iterator.asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    val k = (segments + 1) / 2 - 1L
    assert(k >= 1L, "the test needs a batch before k")
    val failOnce = udf { (_: String) =>
      if (inBatch(failBatch) && failArmed.compareAndSet(true, false))
        throw new IllegalStateException("injected rule failure")
      true
    }
    val rules = Seq("a", "b").map(r => Rule(r, dirs(r),
      if (r == failing) Ingest.IngestConfig(filter = FilterChain.passAll.add(failOnce(col("repo"))))
      else Ingest.IngestConfig()))
    val (failDir, okDir) = (dirs(failing), dirs(if (failing == "a") "b" else "a"))

    failBatch = k
    failArmed.set(true)
    val failure = intercept[StreamingQueryException](
      StreamIngest.runRulesAvailable(spark, logDir, rules, ckpt, maxFilesPerTrigger = 2))
    assert(!failArmed.get, "the injected failure must have fired")
    assert(Iterator.iterate[Throwable](failure)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected rule failure")))
    // the batch waits for every rule before it fails
    val ok0 = LakeTable.load(spark, okDir).snapshot
    assert(ok0.committedBatchId === k, "the other rule committed batch k in the failed attempt")
    assert(LakeTable.load(spark, failDir).snapshot.committedBatchId === k - 1, "the failed rule did not commit k")

    // restart from the same checkpoint: batch k is redelivered to both rules
    StreamIngest.runRulesAvailable(spark, logDir, rules, ckpt, maxFilesPerTrigger = 2)
    val ok1 = LakeTable.load(spark, okDir).snapshot
    val failed1 = LakeTable.load(spark, failDir).snapshot
    assert(ok1.version === ok0.version, "the redelivered batch must not commit to the other rule again")
    assert(ok1.metrics("eventsApplied") === ok0.metrics("eventsApplied"))
    assert(failed1.committedBatchId === k)
    // the same events through the same batches: the failed rule applied k exactly once
    assert(failed1.metrics("batches") === ok1.metrics("batches"))
    assert(failed1.metrics("eventsApplied") === ok1.metrics("eventsApplied"))
    val want = oracle(cfg)
    assert(shaSet(okDir) === want)
    assert(shaSet(failDir) === want)
  }

  test("a rule failing mid-batch: the rule that committed the batch skips its redelivery, the failed rule applies it once") {
    ruleFailsMidBatch("fail", failing = "b")
  }

  test("the first rule failing mid-batch: the second still commits the batch; the first applies it once on restart") {
    ruleFailsMidBatch("failfirst", failing = "a")
  }

  test("a pause and a start on an idle tail skip no batch: a segment arriving after the start is applied") {
    val cfg = GenConfig(seed = 59L, nEvents = 3000L, nRepos = 20, pathsPerRepo = 10,
      nPartitions = 2, contentLen = 60)
    val (logDir, held) = logHoldingBack("graft-sd-idle-log", cfg)
    val tableDir = TestSpark.tmpDir("graft-sd-idle-table")
    val ckpt = TestSpark.tmpDir("graft-sd-idle-ckpt")
    LakeTable.create(spark, tableDir, numBuckets = 4)
    val before = logFence(logDir)
    val tailThread = new Thread(() =>
      StreamIngest.tail(spark, logDir, tableDir, ckpt, maxFilesPerTrigger = 2, httpPort = Some(0)))
    tailThread.start()
    try {
      val port = awaitPort(tableDir)
      await("the tail drains the log it was started on")(fence(tableDir) == before)
      http(port, "POST", "/pause")
      await("the idle tail reports paused")(http(port, "GET", "/state") == """{"state":"paused"}""")
      http(port, "POST", "/start")
      await("the idle tail reports running")(http(port, "GET", "/state") == """{"state":"running"}""")
      release(held)
      await("the segment arriving after the start is applied", seconds = 60)(fence(tableDir) == logFence(logDir))
    } finally {
      StreamIngest.requestStop(tableDir)
      tailThread.join(120000)
    }
    assert(!tailThread.isAlive, "tail must stop")
    assert(shaSet(tableDir) === oracle(cfg))
  }

  test("a catch-up failing on an idle tail ends the tail with that failure; a restart catches up") {
    val cfg = GenConfig(seed = 61L, nEvents = 3000L, nRepos = 20, pathsPerRepo = 10,
      nPartitions = 2, contentLen = 60)
    val (logDir, held) = logHoldingBack("graft-sd-watch-log", cfg)
    val tableDir = TestSpark.tmpDir("graft-sd-watch-table")
    val ckpt = TestSpark.tmpDir("graft-sd-watch-ckpt")
    LakeTable.create(spark, tableDir, numBuckets = 4)
    val before = logFence(logDir)
    // the catch-up replay of an idle stream runs in the watcher, outside
    // every micro-batch
    val catchUpFails = udf { (_: String) =>
      if (outsideBatches && catchUpFailArmed.compareAndSet(true, false))
        throw new IllegalStateException("injected catch-up failure")
      true
    }
    val ruleCfg = Ingest.IngestConfig(filter = FilterChain.passAll.add(catchUpFails(col("repo"))))
    val failure = new AtomicReference[Throwable]
    val tailThread = new Thread(() =>
      try StreamIngest.tail(spark, logDir, tableDir, ckpt, maxFilesPerTrigger = 2, cfg = ruleCfg,
        httpPort = Some(0))
      catch { case t: Throwable => failure.set(t) })
    tailThread.start()
    try {
      val port = awaitPort(tableDir)
      await("the tail drains the log it was started on")(fence(tableDir) == before)
      http(port, "POST", "/pause")
      await("the tail reports paused")(http(port, "GET", "/state") == """{"state":"paused"}""")
      val v = LakeTable.load(spark, tableDir).snapshot.version
      release(held)
      // the stream moves past the new segment while the rule skips it
      await("the paused rule skips the new segment")(
        Files.exists(Paths.get(tableDir, "_control", "catchup")))
      assert(LakeTable.load(spark, tableDir).snapshot.version === v, "a paused table holds")
      catchUpFailArmed.set(true)
      http(port, "POST", "/start")
      tailThread.join(60000)
    } finally if (tailThread.isAlive) {
      StreamIngest.requestStop(tableDir)
      tailThread.join(60000)
    }
    assert(!catchUpFailArmed.get, "the injected failure must have fired")
    assert(!tailThread.isAlive, "a failed catch-up must end the idle tail")
    assert(Iterator.iterate(failure.get)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected catch-up failure")),
      s"the tail must rethrow the watcher's failure, got ${failure.get}")

    // the owed catch-up survived the failure: a restart runs it first
    val again = new Thread(() =>
      StreamIngest.tail(spark, logDir, tableDir, ckpt, maxFilesPerTrigger = 2, cfg = ruleCfg))
    again.start()
    try await("the restarted tail catches up")(fence(tableDir) == logFence(logDir))
    finally {
      StreamIngest.requestStop(tableDir)
      again.join(120000)
    }
    assert(!again.isAlive, "tail must stop")
    assert(shaSet(tableDir) === oracle(cfg))
  }

  test("a rule pipeline's run report lives beside every rule's table") {
    val cfg = GenConfig(seed = 67L, nEvents = 2000L, nRepos = 20, pathsPerRepo = 10,
      nPartitions = 2, contentLen = 60)
    val logDir = TestSpark.tmpDir("graft-sd-report-log")
    val dirs = Seq("a", "b").map(n => n -> TestSpark.tmpDir(s"graft-sd-report-$n"))
    ChangeLog.write(ChangelogGen.events(spark, cfg), logDir, segmentsPerPartition = 2)
    dirs.foreach { case (_, d) => LakeTable.create(spark, d, numBuckets = 4) }
    StreamIngest.runRulesAvailable(spark, logDir, dirs.map { case (n, d) => Rule(n, d, Ingest.IngestConfig()) },
      TestSpark.tmpDir("graft-sd-report-ckpt"))
    dirs.foreach { case (n, d) =>
      val progress = ProgressListener.file(d)
      assert(Files.exists(progress), s"rule $n: no run report at $progress")
      val records = Files.readAllLines(progress).asScala.toSeq.map { l =>
        assert(scala.util.Try(Json.parse(l)).isSuccess, s"rule $n: unparseable progress line: ${l.take(200)}")
        Json.parse(l)
      }
      val last = records.last
      assert(Option(last.get("event")).map(_.asText).contains("terminated") && last.get("exception").isNull,
        s"rule $n: the last record is a clean termination, got $last")
    }
  }
}
