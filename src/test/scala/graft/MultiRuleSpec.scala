package graft

import graft.gen.{ChangelogGen, GenConfig, Oracle}
import graft.ingest.{FilterChain, Ingest}
import graft.lake.LakeTable
import graft.log.ChangeLog
import graft.streaming.StreamIngest
import graft.streaming.StreamIngest.Rule
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A meeting point for the filter UDFs of two rules, inside their tasks.
  * Static, so the local-mode executors that run the UDFs share it. */
object MultiRuleSpecHooks {
  @volatile var met = new java.util.concurrent.CountDownLatch(2)
  private val armed = Seq.fill(2)(new java.util.concurrent.atomic.AtomicBoolean(false))

  def arm(): Unit = { met = new java.util.concurrent.CountDownLatch(2); armed.foreach(_.set(true)) }

  /** Rule `i`'s first task waits up to 30 s for the other rule's. */
  def meet(i: Int): Unit =
    if (armed(i).compareAndSet(true, false)) {
      met.countDown()
      if (!met.await(30, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException(s"rule $i applied alone: the rules did not overlap")
    }
}

/** Multi-rule pipeline (the reference's process layout: one canal, N
  * registered rules, each filtering and applying independently —
  * /root/reference/cobra/handler.go:77-101, /root/reference/rules/factory.go):
  * one stream feeds two tables with disjoint repo filters; each table must
  * converge to the oracle state RESTRICTED to its filter, and a full replay
  * of the same log must be a per-table no-op (independent batchId fences).
  */
class MultiRuleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cfg = GenConfig(seed = 29L, nEvents = 9000L, nRepos = 20,
    pathsPerRepo = 10, nPartitions = 4, contentLen = 60)

  private def shaSet(table: LakeTable): Set[(String, String, String)] =
    table.read()
      .select(col("repo"), col("path"), sha2(col("content"), 256))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("one stream, two rules with disjoint filters: both tables converge; replay is a per-rule no-op") {
    val logDir = TestSpark.tmpDir("graft-mr-log")
    val dirA = TestSpark.tmpDir("graft-mr-a")
    val dirB = TestSpark.tmpDir("graft-mr-b")
    val ckpt = TestSpark.tmpDir("graft-mr-ckpt")
    ChangeLog.write(ChangelogGen.events(spark, cfg), logDir, segmentsPerPartition = 4)
    LakeTable.create(spark, dirA, numBuckets = 8)
    LakeTable.create(spark, dirB, numBuckets = 8)

    // rule A: repos 0..9; rule B: repos 10..19 (disjoint regexes)
    val reA = "org/project-0000[0-9]"
    val reB = "org/project-0001[0-9]"
    val rules = Seq(
      Rule("low", dirA, Ingest.IngestConfig(
        filter = FilterChain.empty.add(FilterChain.repoRegex(reA)))),
      Rule("high", dirB, Ingest.IngestConfig(
        filter = FilterChain.empty.add(FilterChain.repoRegex(reB)))))

    StreamIngest.runRulesAvailable(spark, logDir, rules, ckpt, maxFilesPerTrigger = 4)

    // oracle restricted per filter
    val oracle = Oracle.contentSha(Oracle.replay(ChangelogGen.eventsLocal(cfg)))
      .map { case ((r, p), (sha, _)) => (r, p, sha) }.toSet
    val oracleA = oracle.filter(_._1.matches(reA))
    val oracleB = oracle.filter(_._1.matches(reB))
    assert(oracleA.nonEmpty && oracleB.nonEmpty, "test needs rows on both sides")

    val tA = LakeTable.load(spark, dirA)
    val tB = LakeTable.load(spark, dirB)
    assert(shaSet(tA) === oracleA, "rule A table must converge to its filtered oracle")
    assert(shaSet(tB) === oracleB, "rule B table must converge to its filtered oracle")

    // both rules saw the same fence (filters drop rows, not offsets)
    assert(tA.snapshot.fence === tB.snapshot.fence)

    // full batch replay of the same log through each rule: fenced to a no-op
    val vA = tA.snapshot.version
    val vB = tB.snapshot.version
    val log = ChangeLog.readDF(spark, logDir)
    Ingest.replayLog(tA, log, rules(0).cfg)
    Ingest.replayLog(tB, log, rules(1).cfg)
    assert(shaSet(LakeTable.load(spark, dirA)) === oracleA)
    assert(shaSet(LakeTable.load(spark, dirB)) === oracleB)
    assert(LakeTable.load(spark, dirA).snapshot.version === vA, "a fenced-out replay commits nothing")
    assert(LakeTable.load(spark, dirB).snapshot.version === vB, "a fenced-out replay commits nothing")
  }

  test("the rules of a micro-batch apply concurrently") {
    // each rule's filter blocks its first task until the other rule's first
    // task arrives: applied one after the other, the first rule times out
    val logDir = TestSpark.tmpDir("graft-mrc-log")
    val dirs = Seq("a", "b").map(n => TestSpark.tmpDir(s"graft-mrc-$n"))
    ChangeLog.write(ChangelogGen.events(spark, cfg.copy(nEvents = 2000L)), logDir, segmentsPerPartition = 1)
    dirs.foreach(LakeTable.create(spark, _, numBuckets = 4))
    MultiRuleSpecHooks.arm()
    val rules = dirs.zipWithIndex.map { case (d, i) =>
      val meet = udf { (_: String) => MultiRuleSpecHooks.meet(i); true }
      Rule(s"r$i", d, Ingest.IngestConfig(filter = FilterChain.passAll.add(meet(col("repo")))))
    }
    StreamIngest.runRulesAvailable(spark, logDir, rules, TestSpark.tmpDir("graft-mrc-ckpt"))
    assert(MultiRuleSpecHooks.met.getCount === 0L, "both rules reached the meeting point")
    val want = LakeTable.load(spark, dirs(0)).snapshot.fence
    assert(want.nonEmpty && LakeTable.load(spark, dirs(1)).snapshot.fence === want)
  }

  test("two rules may not share a table dir or a signature store") {
    val logDir = TestSpark.tmpDir("graft-mrx-log")
    val dir = TestSpark.tmpDir("graft-mrx-t")
    val ckpt = TestSpark.tmpDir("graft-mrx-ckpt")
    val sameDir = Seq(Rule("a", dir), Rule("b", s"$dir/../${java.nio.file.Paths.get(dir).getFileName}/"))
    val e1 = intercept[IllegalArgumentException](StreamIngest.runRulesAvailable(spark, logDir, sameDir, ckpt))
    assert(e1.getMessage.contains("distinct table dirs"))
    val sigs = Ingest.IngestConfig(sigStoreDir = Some(TestSpark.tmpDir("graft-mrx-sigs")))
    val sameStore = Seq(Rule("a", TestSpark.tmpDir("graft-mrx-a"), sigs), Rule("b", dir, sigs))
    val e2 = intercept[IllegalArgumentException](StreamIngest.runRulesAvailable(spark, logDir, sameStore, ckpt))
    assert(e2.getMessage.contains("distinct signature stores"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(ckpt, "_graftctl")), "no pipeline started")
  }

  test("mixed write modes on one stream: a merge-on-read rule beside a copy-on-write rule") {
    // one canal, two rules, DIFFERENT write modes — the MOR rule takes the
    // fused append path while the COW rule runs the probe/merge path on the
    // same micro-batches, concurrently; both must converge independently
    val logDir = TestSpark.tmpDir("graft-mrm-log")
    val dirCow = TestSpark.tmpDir("graft-mrm-cow")
    val dirMor = TestSpark.tmpDir("graft-mrm-mor")
    val ckpt = TestSpark.tmpDir("graft-mrm-ckpt")
    ChangeLog.write(ChangelogGen.events(spark, cfg), logDir, segmentsPerPartition = 4)
    LakeTable.create(spark, dirCow, numBuckets = 8)
    LakeTable.create(spark, dirMor, numBuckets = 8)
    val rules = Seq(
      Rule("cow", dirCow, Ingest.IngestConfig()),
      Rule("mor", dirMor, Ingest.IngestConfig(morMode = true, morFoldEvery = 3)))
    StreamIngest.runRulesAvailable(spark, logDir, rules, ckpt, maxFilesPerTrigger = 4)
    val oracle = Oracle.contentSha(Oracle.replay(ChangelogGen.eventsLocal(cfg)))
      .map { case ((r, p), (sha, _)) => (r, p, sha) }.toSet
    val tCow = LakeTable.load(spark, dirCow)
    val tMor = LakeTable.load(spark, dirMor)
    assert(shaSet(tCow) === oracle, "COW rule must converge")
    assert(shaSet(tMor) === oracle, "MOR rule must converge (read-time resolution)")
    assert(tCow.snapshot.fence === tMor.snapshot.fence, "both rules share the offset fence")
    graft.ingest.Mor.fold(tMor)
    assert(shaSet(LakeTable.load(spark, dirMor)) === oracle, "post-fold too")
  }

  test("continuous tailRules: TWO MOR rules with async cadence folds compose and converge bit-exactly") {
    // N rules × async folds: each rule's cadence fold runs on its own
    // per-table daemon worker (MorFolds) while the shared stream keeps
    // consuming; stop drains every rule's in-flight fold. Cadence folds are
    // a live-tail feature, so this drives tailRules (ProcessingTime), not
    // the AvailableNow paths (which suppress them by design).
    val logDir = TestSpark.tmpDir("graft-mrf-log")
    val dirA = TestSpark.tmpDir("graft-mrf-a")
    val dirB = TestSpark.tmpDir("graft-mrf-b")
    val ckpt = TestSpark.tmpDir("graft-mrf-ckpt")
    ChangeLog.write(ChangelogGen.events(spark, cfg), logDir, segmentsPerPartition = 4)
    LakeTable.create(spark, dirA, numBuckets = 8)
    LakeTable.create(spark, dirB, numBuckets = 8)
    val morCfg = Ingest.IngestConfig(morMode = true, morFoldEvery = 2)
    val rules = Seq(Rule("ma", dirA, morCfg), Rule("mb", dirB, morCfg))
    val expectedFence = ChangeLog.readDF(spark, logDir)
      .groupBy(col("partition")).agg(max(col("offset")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val tailThread = new Thread(() =>
      StreamIngest.tailRules(spark, logDir, rules, ckpt, maxFilesPerTrigger = 2))
    tailThread.start()
    val deadline = System.nanoTime() + 180e9.toLong
    while ((LakeTable.load(spark, dirA).snapshot.fence != expectedFence ||
        LakeTable.load(spark, dirB).snapshot.fence != expectedFence) &&
        System.nanoTime() < deadline) Thread.sleep(250)
    StreamIngest.requestStopRules(ckpt)
    tailThread.join(60000)
    assert(!tailThread.isAlive, "tail must stop at the batch boundary")
    val oracle = Oracle.contentSha(Oracle.replay(ChangelogGen.eventsLocal(cfg)))
      .map { case ((r, p), (sha, _)) => (r, p, sha) }.toSet
    val tA = LakeTable.load(spark, dirA)
    val tB = LakeTable.load(spark, dirB)
    assert(tA.snapshot.fence === expectedFence && tB.snapshot.fence === expectedFence)
    assert(tA.snapshot.metrics.getOrElse("morFolds", 0L) >= 1L,
      "rule A must have run at least one cadence fold")
    assert(tB.snapshot.metrics.getOrElse("morFolds", 0L) >= 1L,
      "rule B must have run at least one cadence fold")
    assert(shaSet(tA) === oracle, "rule A converges through interleaved async folds")
    assert(shaSet(tB) === oracle, "rule B converges through interleaved async folds")
    graft.ingest.Mor.fold(tA); graft.ingest.Mor.fold(tB)
    assert(shaSet(LakeTable.load(spark, dirA)) === oracle, "post-final-fold too")
    assert(shaSet(LakeTable.load(spark, dirB)) === oracle, "post-final-fold too")
  }

  test("continuous tailRules: pausing ONE rule keeps the others consuming; restart is lossless") {
    // the reference's /rules/{name}/stop + /start (factory_http.go:10-48):
    // one canal, N rules, stop one while the rest keep applying — but unlike
    // the reference (whose stopped rules MISS events), the resumed rule
    // catches up from its own offset fence and converges bit-exactly.
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    import java.nio.file.{Files, Paths}
    val logDir = TestSpark.tmpDir("graft-mrt-log")
    val extraDir = TestSpark.tmpDir("graft-mrt-extra")
    val dirA = TestSpark.tmpDir("graft-mrt-a")
    val dirB = TestSpark.tmpDir("graft-mrt-b")
    val ckpt = TestSpark.tmpDir("graft-mrt-ckpt")
    val half = cfg.nEvents / 2
    val all = ChangelogGen.events(spark, cfg)
    ChangeLog.write(all.filter(col("seq") < half), logDir, segmentsPerPartition = 3)
    LakeTable.create(spark, dirA, numBuckets = 8)
    LakeTable.create(spark, dirB, numBuckets = 8)
    val rules = Seq(Rule("a", dirA), Rule("b", dirB))

    val tailThread = new Thread(() =>
      StreamIngest.tailRules(spark, logDir, rules, ckpt, maxFilesPerTrigger = 2,
        httpPort = Some(0)))
    tailThread.start()
    def http(method: String, path: String): (Int, String) = {
      val portFile = Paths.get(StreamIngest.rulesControlDir(ckpt), "http.port")
      val port = Files.readString(portFile).trim.toInt
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      val req = (if (method == "POST") b.POST(HttpRequest.BodyPublishers.noBody()) else b.GET).build()
      val resp = HttpClient.newHttpClient().send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    def fence(dir: String): Map[Int, Long] = LakeTable.load(spark, dir).snapshot.fence
    val firstFence = ChangelogGen.eventsLocal(cfg).filter(_.seq < half)
      .groupBy(_.partition).map { case (p, es) => p -> es.map(_.offset).max }
    val fullFence = ChangelogGen.eventsLocal(cfg)
      .groupBy(_.partition).map { case (p, es) => p -> es.map(_.offset).max }
    def caughtUp(dir: String, want: Map[Int, Long]): Boolean = {
      val f = fence(dir)
      want.forall { case (p, o) => f.getOrElse(p, -1L) >= o }
    }
    def await(what: String, deadlineMs: Long = 180000)(cond: => Boolean): Unit = {
      val d = System.currentTimeMillis() + deadlineMs
      while (!cond && System.currentTimeMillis() < d) Thread.sleep(250)
      assert(cond, s"timed out waiting for: $what")
    }
    try {
      await("both rules drain the first half")(
        Files.exists(Paths.get(StreamIngest.rulesControlDir(ckpt), "http.port")) &&
          caughtUp(dirA, firstFence) && caughtUp(dirB, firstFence))

      // pause rule A only — via the reference-shaped HTTP route
      val (pc, pb) = http("POST", "/rules/a/pause")
      assert(pc === 200 && pb.contains("requested"), pb)
      assert(http("GET", "/rules")._2.contains(""""name":"a","state":"paused""""))
      val (gc, _) = http("GET", "/rules/a/pause") // mutations are POST-only
      assert(gc === 405)

      // second half of the log arrives while A is paused
      ChangeLog.write(all.filter(col("seq") >= half), extraDir, segmentsPerPartition = 2)
      Files.list(Paths.get(extraDir)).filter(_.getFileName.toString.startsWith("partition=")).forEach { pd =>
        Files.list(pd).filter(_.getFileName.toString.endsWith(".parquet")).forEach { seg =>
          Files.copy(seg, Paths.get(logDir, pd.getFileName.toString,
            s"part-extra-${seg.getFileName}"))
        }
      }
      await("rule B consumes the second half while A is paused")(
        caughtUp(dirB, fullFence))
      assert(!caughtUp(dirA, fullFence), "paused rule A must not advance")
      assert(tailThread.isAlive, "per-rule pause must not end the pipeline")

      // restart A: catch-up replay from its fence, then rejoin live
      val (sc2, sb2) = http("POST", "/rules/a/start")
      assert(sc2 === 200 && sb2.contains("requested"), sb2)
      await("rule A catches up after /start")(caughtUp(dirA, fullFence))

      val (rc, rb) = http("GET", "/rules/a/report")
      assert(rc === 200 && rb.contains("\"fence\""), rb.take(300))

      val (stc, _) = http("POST", "/stop")
      assert(stc === 200)
      tailThread.join(180000)
      assert(!tailThread.isAlive, "POST /stop must end the pipeline")
    } finally if (tailThread.isAlive) {
      StreamIngest.requestStopRules(ckpt); tailThread.join(60000)
    }

    // the paused-then-restarted rule lost NOTHING: both tables converge to
    // the full-log oracle, bit-exactly
    val oracle = Oracle.contentSha(Oracle.replay(ChangelogGen.eventsLocal(cfg)))
      .map { case ((r, p), (sha, _)) => (r, p, sha) }.toSet
    assert(shaSet(LakeTable.load(spark, dirA)) === oracle,
      "restarted rule must converge (lossless catch-up)")
    assert(shaSet(LakeTable.load(spark, dirB)) === oracle,
      "uninterrupted rule must converge")
  }

  test("in-log DDLs reach every rule's table (schema changes are table-wide, not filtered)") {
    val cfgDdl = cfg.copy(seed = 31L, nEvents = 6000L, ddlEvery = 2500L)
    val logDir = TestSpark.tmpDir("graft-mrd-log")
    val dirA = TestSpark.tmpDir("graft-mrd-a")
    val dirB = TestSpark.tmpDir("graft-mrd-b")
    val ckpt = TestSpark.tmpDir("graft-mrd-ckpt")
    ChangeLog.write(ChangelogGen.events(spark, cfgDdl), logDir, segmentsPerPartition = 3)
    LakeTable.create(spark, dirA, numBuckets = 4)
    LakeTable.create(spark, dirB, numBuckets = 4)
    val rules = Seq(
      Rule("a", dirA, Ingest.IngestConfig(
        filter = FilterChain.empty.add(FilterChain.repoRegex("org/project-0000[0-9]")))),
      Rule("b", dirB, Ingest.IngestConfig(
        filter = FilterChain.empty.add(FilterChain.repoRegex("org/project-0001[0-9]")))))
    StreamIngest.runRulesAvailable(spark, logDir, rules, ckpt, maxFilesPerTrigger = 4)
    val tA = LakeTable.load(spark, dirA)
    val tB = LakeTable.load(spark, dirB)
    // both rules applied both DDLs despite disjoint ROW filters
    assert(tA.snapshot.ddlSeq === tB.snapshot.ddlSeq && tA.snapshot.ddlSeq > 0,
      "both tables must carry the same applied-DDL high-water mark")
    assert(tA.snapshot.schemaId === tB.snapshot.schemaId,
      "schema evolution must be identical across rules")
    // and row content still converges per filter
    val oracle = Oracle.contentSha(Oracle.replay(ChangelogGen.eventsLocal(cfgDdl)))
      .map { case ((r, p), (sha, _)) => (r, p, sha) }.toSet
    assert(shaSet(tA) === oracle.filter(_._1.matches("org/project-0000[0-9]")))
    assert(shaSet(tB) === oracle.filter(_._1.matches("org/project-0001[0-9]")))
  }
}
