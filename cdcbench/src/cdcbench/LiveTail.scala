package cdcbench

import graft.gen.{ChangelogGen, GenConfig}
import graft.ingest.{ChainApply, FilterChain, Ingest, Mor}
import graft.lake.LakeTable
import graft.log.ChangeLog
import graft.streaming.StreamIngest
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

/** The production steady state: one stream serving several rules.
  *
  * Set-up writes a base log and brings three rule tables (MOR pass-all, COW
  * pass-all, MOR with a key-only filter), the stream checkpoint and a chained
  * silver table to its end. In the window an open-loop producer publishes
  * pre-staged log segments by atomic rename on a fixed schedule, while a
  * follower chains the COW table into the silver table and a reader does
  * keyed lookups on the MOR table. Freshness is timed from each segment's due
  * time, so a stall charges every later segment. */
object LiveTail {
  val ruleNames: Seq[String] = Seq("mor_all", "cow_all", "mor_keys")

  /** Key-only rule filter: repos with an even index. */
  val keyRegex = "[02468]$"
  /** Silver table filter: paths whose file index ends in 0 or 5. */
  val silverRegex = "[05]\\.txt$"

  private def clockMs: Double = System.nanoTime() / 1e6

  /** A staged log file and the (partition, last offset) that covers it. */
  private final case class Segment(file: Path, target: Path, partition: Int, maxOffset: Long)
}

final class LiveTail(c: Ctx) extends Workload {
  import LiveTail._
  import c.{m, o, spark}

  private val baseEvents = if (o.smoke) 5000L else 10000L
  private val segmentsPerSecond = 3
  private val segmentEvents = 60L
  private val buckets = 4
  /** Pause between a closed-loop client's operations. */
  private val thinkMs = 1000L
  private val nSegments = math.max(4, (segmentsPerSecond * o.seconds).toInt)
  private val liveEvents = nSegments * segmentEvents
  private val cfg = GenConfig(seed = o.seed, nEvents = baseEvents + liveEvents,
    nRepos = 100, pathsPerRepo = 64, skew = 3.0, nPartitions = 4,
    ddlEvery = 0L, contentLen = 160)

  private var logDir: String = _
  private var ckpt: String = _
  private var ruleDirs: Seq[String] = Nil
  private var silverDir: String = _
  private var segments: IndexedSeq[Segment] = IndexedSeq.empty
  private var want: Map[OracleCheck.Key, String] = Map.empty
  private var tail: Thread = _
  @volatile private var tailFailure: Throwable = _
  private val catchUpS = mutable.ArrayBuffer.empty[Double]
  private val oracleS = mutable.ArrayBuffer.empty[Double]

  // window results
  private var freshMs = Seq.empty[Double]
  private var ruleFreshMs = Map.empty[String, Seq[Double]]
  private var chainMs = Seq.empty[Double]
  private val readMs = mutable.ArrayBuffer.empty[Double]
  private val syncMs = mutable.ArrayBuffer.empty[Double]
  private val peekMs = mutable.ArrayBuffer.empty[Double]
  private val backlog = mutable.ArrayBuffer.empty[Double]
  private var latenessMax = 0.0
  private var bytesBefore = 0L
  private var foldS = Double.NaN

  private def rules: Seq[StreamIngest.Rule] = {
    val mor = Ingest.IngestConfig.streamingDefault
    Seq(
      StreamIngest.Rule("mor_all", ruleDirs(0), mor),
      StreamIngest.Rule("cow_all", ruleDirs(1), Ingest.IngestConfig()),
      StreamIngest.Rule("mor_keys", ruleDirs(2),
        mor.copy(filter = FilterChain.passAll.add(FilterChain.repoRegex(keyRegex)))))
  }

  /** One set-up: the base log, then [[catchUps]] catch-ups of the rules to
    * its end, each on fresh tables and a fresh checkpoint. The first is the
    * cold one: it only warms the JVM, and the live segments are staged beside
    * it; `first_pass_s` is the median of the others. The last one's tail
    * keeps running into the window, after the MOR base folds and the silver
    * bootstrap. */
  override def setupReps: Int = 1
  private val catchUps = if (o.smoke) 1 else 3

  def setup(d: Path): Unit = {
    stopTail()
    Files.createDirectories(d)
    logDir = d.resolve("log").toString
    val t0 = System.nanoTime()
    val (st, foldSecs) = Inputs.withOracle(cfg)(Inputs.writeLog(spark, cfg, logDir, 0L, baseEvents))
    oracleS += foldSecs
    want = OracleCheck.expected(st)
    val baseFence = (0L until baseEvents).map(ChangelogGen.eventAt(cfg, _))
      .groupBy(_.partition).map { case (p, es) => p -> es.map(_.offset).max }
    val baseS = Metrics.secondsSince(t0)
    val staging = d.resolve("staging")
    val staged = Future {
      Inputs.writeLog(spark, cfg, staging.toString, baseEvents, cfg.nEvents,
        segmentsPerPartition = math.max(1, nSegments / cfg.nPartitions))
      stage(staging)
    }
    (1 to catchUps).foreach { i =>
      stopTail()
      if (i > 1) RunMain.deleteTree(d.resolve(s"tables-${i - 1}"))
      catchUp(d.resolve(s"tables-$i"), baseFence)
      if (i == 1) segments = Await.result(staged, Duration.Inf)
    }
    // the base is folded before the window: a steady tail starts from it
    val t1 = System.nanoTime()
    Seq(ruleDirs(0), ruleDirs(2)).foreach(r => Mor.fold(LakeTable.load(spark, r)))
    ChainApply.sync(LakeTable.load(spark, ruleDirs(1)), LakeTable.load(spark, silverDir),
      col("path").rlike(silverRegex))
    m.note(f"set-up: base log $baseS%.2f s, catch-ups " +
      f"${catchUpS.map(x => f"$x%.2f").mkString(" / ")} s (the first beside the staging), " +
      f"base folds and silver ${Metrics.secondsSince(t1)}%.2f s")
  }

  /** Creates the rule and silver tables under `d`, starts the tail and
    * waits until every rule covers `baseFence`. */
  private def catchUp(d: Path, baseFence: Map[Int, Long]): Unit = {
    ckpt = d.resolve("ckpt").toString
    ruleDirs = ruleNames.map(r => d.resolve(s"rule-$r").toString)
    silverDir = d.resolve("silver").toString
    val t0 = System.nanoTime()
    (ruleDirs :+ silverDir).foreach(LakeTable.create(spark, _, numBuckets = buckets))
    tailFailure = null
    val rs = rules
    tail = new Thread(() =>
      try StreamIngest.tailRules(spark, logDir, rs, ckpt, maxFilesPerTrigger = 1000)
      catch { case e: Throwable => tailFailure = e }, "cdcbench-tail")
    tail.setDaemon(true)
    tail.start()
    val deadline = System.nanoTime() + 120000000000L
    while (ruleDirs.exists(r => !covers(peekFence(r), baseFence))) {
      if (tailFailure != null) throw tailFailure
      require(System.nanoTime() < deadline, "rules did not catch up with the base log")
      Thread.sleep(5)
    }
    catchUpS += Metrics.secondsSince(t0)
  }

  /** Staged segments in publish order (by first offset), with their
    * targets in the live log and the (partition, last offset) that covers
    * them. */
  private def stage(staging: Path): IndexedSeq[Segment] = {
    val files = ChangeLog.readDF(spark, staging.toString)
      .groupBy(input_file_name().as("f"))
      .agg(first(col("partition")).as("p"), min(col("offset")).as("lo"), max(col("offset")).as("hi"))
      .collect()
    files.toIndexedSeq.map { r =>
      val f = Paths.get(new java.net.URI(r.getString(0)))
      val p = r.getInt(1)
      (r.getLong(2), Segment(f, Paths.get(logDir, s"partition=$p", f.getFileName.toString), p, r.getLong(3)))
    }.sortBy(_._1).map(_._2)
  }

  private def peekFence(tableDir: String): Map[Int, Long] =
    LakeTable.peekSnapshot(tableDir).map(_.fence).getOrElse(Map.empty)

  private def covers(fence: Map[Int, Long], want: Map[Int, Long]): Boolean =
    want.forall { case (p, off) => fence.getOrElse(p, -1L) >= off }

  private def stopTail(): Unit = if (tail != null) {
    StreamIngest.requestStopRules(ckpt)
    tail.join(60000)
    if (tail.isAlive) m.note("tail did not stop within 60 s")
    tail = null
  }

  private def dirBytes(ds: Seq[String]): Long =
    ds.map(d => org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(d))).sum

  def measure(deadlineNs: Long): Double = {
    val n = segments.size
    val published = new AtomicInteger(0)
    val due = new Array[Double](n)
    val covered = Array.fill(ruleDirs.size, n)(Double.NaN)
    val cowVersion = Array.fill(n)(Long.MaxValue)
    val chained = Array.fill(n)(Double.NaN)
    @volatile var running = true
    @volatile var monitoring = true
    // set by the monitor once every segment reached every table
    @volatile var drained = false
    bytesBefore = dirBytes(ruleDirs)
    val rng = new java.util.Random(o.seed * 17 + 3)
    val silverFilter = col("path").rlike(silverRegex)

    val monitor = new Thread(() => {
      val next = Array.fill(ruleDirs.size)(0)
      var nextChain = 0
      while (monitoring) {
        val snaps = ruleDirs.map { r =>
          val t0 = System.nanoTime()
          val s = LakeTable.peekSnapshot(r)
          peekMs += Metrics.secondsSince(t0) * 1e3
          s
        }
        val silverBatch = LakeTable.peekSnapshot(silverDir).map(_.committedBatchId).getOrElse(-1L)
        val now = clockMs
        val upTo = published.get()
        snaps.zipWithIndex.foreach { case (s, r) =>
          val fence = s.map(_.fence).getOrElse(Map.empty[Int, Long])
          // a rule fence covers segments in any order; scan the uncovered ones
          (next(r) until upTo).foreach { k =>
            val seg = segments(k)
            if (covered(r)(k).isNaN && fence.getOrElse(seg.partition, -1L) >= seg.maxOffset) {
              covered(r)(k) = now
              if (r == 1) cowVersion(k) = s.get.version
            }
          }
          while (next(r) < upTo && !covered(r)(next(r)).isNaN) next(r) += 1
        }
        (nextChain until upTo).foreach { k =>
          if (chained(k).isNaN && silverBatch >= cowVersion(k)) chained(k) = now
        }
        while (nextChain < upTo && !chained(nextChain).isNaN) nextChain += 1
        drained = nextChain == n && next.forall(_ == n)
        Thread.sleep(10)
      }
    }, "cdcbench-monitor")

    val producer = new Thread(() => {
      val start = clockMs + 100
      val interval = ((deadlineNs - System.nanoTime()) / 1e6 - 100) / n
      segments.indices.foreach { k =>
        due(k) = start + k * interval
        val wait = due(k) - clockMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        Files.move(segments(k).file, segments(k).target, StandardCopyOption.ATOMIC_MOVE)
        latenessMax = math.max(latenessMax, clockMs - due(k))
        published.incrementAndGet()
      }
    }, "cdcbench-producer")

    val reader = new Thread(() => {
      while (running) {
        val until = baseEvents + published.get() * segmentEvents
        var e = ChangelogGen.eventAt(cfg, (rng.nextDouble() * until).toLong)
        while (e.repo == null) e = ChangelogGen.eventAt(cfg, (rng.nextDouble() * until).toLong)
        val (repo, path) = (e.repo, e.path)
        val t0 = System.nanoTime()
        m.op("keyed read") {
          val table = LakeTable.load(spark, ruleDirs(0))
          backlog += table.snapshot.deltaRows.toDouble
          val rows = RunMain.calling(spark,
              if (table.snapshot.deltaFiles.nonEmpty) "lake.MorRead" else "lake.LakeTable") {
            OracleCheck.rows(table.read().filter(col("repo") === repo && col("path") === path))
          }
          require(rows.size <= 1, s"key ($repo, $path) has ${rows.size} rows")
        }.foreach(_ => readMs += Metrics.secondsSince(t0) * 1e3)
        Thread.sleep(thinkMs)
      }
    }, "cdcbench-reader")

    val follower = new Thread(() => {
      val cow = LakeTable.load(spark, ruleDirs(1))
      val silver = LakeTable.load(spark, silverDir)
      while (running) {
        val t0 = System.nanoTime()
        m.op("chain sync")(ChainApply.sync(cow, silver, silverFilter)) match {
          case Some(r) if r.toVersion > r.fromVersion => syncMs += Metrics.secondsSince(t0) * 1e3
          case _ => Thread.sleep(thinkMs)
        }
      }
    }, "cdcbench-follower")

    Seq(monitor, producer, reader, follower).foreach(_.start())
    producer.join()
    // drain: every published segment must reach every rule and the silver table
    val drainEnd = System.nanoTime() + (if (o.smoke) 60e9 else 20e9).toLong
    while (!drained && System.nanoTime() < drainEnd && tailFailure == null) Thread.sleep(20)
    running = false
    reader.join(); follower.join()
    Thread.sleep(30)
    monitoring = false
    monitor.join()
    if (tailFailure != null) m.note(s"tail failed: $tailFailure")
    stopTail()

    val fresh = (0 until n).map { k =>
      val cs = ruleDirs.indices.map(r => covered(r)(k))
      if (cs.exists(_.isNaN)) Double.NaN else cs.max - due(k)
    }
    m.count(n, fresh.count(_.isNaN))
    m.count(n, chained.count(_.isNaN))
    freshMs = fresh.filterNot(_.isNaN)
    ruleFreshMs = ruleNames.zipWithIndex.map { case (name, r) =>
      name -> (0 until n).map(k => covered(r)(k) - due(k)).filterNot(_.isNaN)
    }.toMap
    chainMs = (0 until n).map(k => chained(k) - due(k)).filterNot(_.isNaN)

    // per-layer only: the traced run folds the MOR pass-all table in full
    if (o.trace) {
      val t0 = System.nanoTime()
      m.op("final fold")(Mor.fold(LakeTable.load(spark, ruleDirs(0))))
      foldS = Metrics.secondsSince(t0)
    }
    1.0
  }

  def finish(): Unit = {
    val warm = if (catchUpS.size > 1) catchUpS.drop(1) else catchUpS
    m.put("first_pass_s", Metrics.median(warm.toSeq), "s")
    m.put("latency_p50_ms", Metrics.median(freshMs), "ms")
    m.put("read_p50_ms", Metrics.median(readMs.toSeq), "ms")
    m.put("tail.chain_freshness_p50_ms", Metrics.median(chainMs), "ms")
    ruleFreshMs.foreach { case (r, xs) => m.put(s"rule.$r.freshness_p50_ms", Metrics.median(xs), "ms") }
    m.put("ingest.ChainApply.sync_ms_p50", Metrics.median(syncMs.toSeq), "ms")
    m.put("lake.peekSnapshot_ms_p50", Metrics.median(peekMs.toSeq), "ms")
    m.put("ingest.mor_backlog_events_p50", Metrics.median(backlog.toSeq), "count")
    m.put("gen.lateness_ms_max", latenessMax, "ms")
    m.put("gen.oracle_s", Metrics.median(oracleS.toSeq), "s")
    if (o.trace) m.put("ingest.Mor.fold_s", foldS, "s")
    val snaps = ruleDirs.flatMap(LakeTable.peekSnapshot)
    m.put("lake.files", snaps.map(_.files.size).sum, "count")
    m.put("lake.delta_files", snaps.map(_.deltaFiles.size).sum, "count")
    m.put("lake.table_bytes", dirBytes(ruleDirs).toDouble, "B")
    m.put("lake.snapshots", snaps.map(_.version + 1).sum.toDouble, "count")
    m.put("lake.bytes_written_per_event", (dirBytes(ruleDirs) - bytesBefore).toDouble / liveEvents, "B")
    m.note(s"samples: ${freshMs.size} segments, ${chainMs.size} chained, ${readMs.size} reads, " +
      s"${syncMs.size} syncs; freshness_p90_ms=${Metrics.p90(freshMs)} read_p90_ms=${Metrics.p90(readMs.toSeq)}")

    val keyed: OracleCheck.Key => Boolean = k => k._1.matches(s".*$keyRegex")
    val silvered: OracleCheck.Key => Boolean = k => k._2.matches(s".*$silverRegex")
    RunMain.calling(spark, "bench.oracle") {
      Seq(ruleDirs(0) -> want, ruleDirs(1) -> want,
        ruleDirs(2) -> want.filter(kv => keyed(kv._1)),
        silverDir -> want.filter(kv => silvered(kv._1))).zip(ruleNames :+ "silver").foreach {
        case ((d, w), name) => OracleCheck.verify(m, s"$name table", LakeTable.load(spark, d).read(), w, o.smoke)
      }
    }
  }
}
