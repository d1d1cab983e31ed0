package graft.app

import graft.gen.{ChangelogGen, GenConfig}
import graft.ingest.Ingest
import graft.lake.LakeTable
import graft.log.ChangeLog
import graft.streaming.StreamIngest
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** spark-submit entry point — the engine's CLI, mirroring the reference's
  * command surface (/root/reference/cmd/run.go:29-72,
  * cmd/positions/report.go, cmd/positions/save.go):
  *
  * {{{
  *   gen     <logDir> [nEvents] [nRepos] [pathsPerRepo] [nPartitions] [ddlEvery]
  *   run     <logDir> <tableDir> <checkpointDir> [maxFilesPerTrigger]   # streaming tail
  *   replay  <logDir> <tableDir>                                        # batch replay
  *   report  <tableDir>                                                 # position + lineage report
  * }}}
  */
object Main {
  /** Engine version (reference: /root/reference/cmd/version.go:12-18). */
  val Version = "0.6.0"

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    if (args(0) == "version") { // no Spark session needed for a version print
      println(s"graft-cdc $Version (spark ${org.apache.spark.SPARK_VERSION}, " +
        s"scala ${scala.util.Properties.versionNumberString})")
      return
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft-cdc")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // historical engine default (harmless): kept so sessions stay
      // conf-comparable across rounds; the merge no longer relies on subset
      // co-partitioning (Spark 4 rewrites pre-join repartitions anyway — the
      // write is bucket-routed explicitly, see MergeApply strategy 3)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // zstd shuffle compression: the ingest shuffle carries near-full event
      // rows (content-heavy); zstd's higher ratio relieves the memory/IO
      // bandwidth the shuffle is bound by at high parallelism (measured at
      // 64M events: 16-core replay 7% faster than lz4, 4-core 4% slower —
      // the CPU-bound low-parallelism regime pays, the bandwidth-bound
      // regime a real multi-executor shuffle lives in wins)
      .config("spark.io.compression.codec",
        sys.env.getOrElse("GRAFT_SHUFFLE_CODEC", "zstd"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try dispatch(spark, args)
    finally spark.stop()
  }

  /** Streaming entry points (`run`/`tail`/`tailrules`) default to
    * merge-on-read with the async partial-fold cadence
    * ([[graft.ingest.Ingest.IngestConfig.streamingDefault]]) — the
    * high-throughput shape. GRAFT_MOR=0 opts back into copy-on-write
    * streaming (one merge per micro-batch; the right shape only when
    * batches are large and keys cluster). */
  private def defaultCfg: graft.ingest.Ingest.IngestConfig = {
    val base = graft.ingest.Ingest.IngestConfig.streamingDefault
    base.copy(
      morMode = !sys.env.get("GRAFT_MOR").exists(v => v == "0" || v == "false"),
      morFoldEvery = sys.env.get("GRAFT_MOR_FOLD_EVERY").map(_.toInt)
        .getOrElse(base.morFoldEvery),
      // cadence folds are PARTIAL by default (only buckets whose backlog
      // reached this many events rewrite base — a cadence tick must never be
      // O(table)); GRAFT_MOR_FOLD_MIN_PER_BUCKET=0 forces unconditional
      // folds, and the explicit CLI `fold <table> [minEvents]` is always
      // available for a final full compaction
      morFoldMinEventsPerBucket =
        sys.env.get("GRAFT_MOR_FOLD_MIN_PER_BUCKET").map(_.toLong)
          .getOrElse(base.morFoldMinEventsPerBucket),
      // GRAFT_MOR_RAW=1: shuffle-free raw appends (skip per-batch LWW dedup;
      // right for low-duplication sources — see IngestConfig.morDedupPerBatch)
      morDedupPerBatch = !sys.env.get("GRAFT_MOR_RAW").exists(v => v == "1" || v == "true"),
      // GRAFT_SIGSTORE=<dir>: maintain a persisted near-dup signature store
      // alongside the table (SigStore.maintainFromEvents per micro-batch) so
      // incoming batches can be near-dup-checked in O(batch) via
      // SigStore.incrementalPairs — no corpus rescan
      sigStoreDir = sys.env.get("GRAFT_SIGSTORE").filter(_.nonEmpty))
  }

  private def dispatch(spark: SparkSession, args: Array[String]): Unit = args(0) match {
    case "gen" =>
      val dir = args(1)
      def a(i: Int, d: Long): Long = if (args.length > i) args(i).toLong else d
      val cfg = GenConfig(
        nEvents = a(2, 100000L),
        nRepos = a(3, 200L).toInt,
        pathsPerRepo = a(4, 50L).toInt,
        nPartitions = a(5, 8L).toInt,
        ddlEvery = a(6, 0L))
      ChangeLog.write(ChangelogGen.events(spark, cfg), dir)
      println(s"wrote ${cfg.nEvents} events to $dir (${cfg.nPartitions} partitions)")

    case "run" =>
      val Array(_, logDir, tableDir, ckptDir) = args.take(4)
      val mft = if (args.length > 4) args(4).toInt else 8
      if (!LakeTable.exists(tableDir)) LakeTable.create(spark, tableDir)
      StreamIngest.runAvailable(spark, logDir, tableDir, ckptDir, mft, cfg = defaultCfg)
      report(spark, tableDir)

    case "fold" =>
      // compact merge-on-read delta files into the base (one COW merge);
      // optional minEventsPerBucket > 0 folds only dense buckets (partial)
      val table = LakeTable.load(spark, args(1))
      val minPerBucket = if (args.length > 2) args(2).toLong else 0L
      val r = graft.ingest.Mor.fold(table, minPerBucket)
      println(s"folded: deltaFiles=${r.deltaFilesFolded} events=${r.eventsFolded}" +
        (if (r.bucketsFolded >= 0)
          s" buckets=${r.bucketsFolded} deferred=${r.eventsDeferred}" else ""))
      report(spark, args(1))

    case "replay" =>
      val Array(_, logDir, tableDir) = args.take(3)
      if (!LakeTable.exists(tableDir)) LakeTable.create(spark, tableDir)
      val table = LakeTable.load(spark, tableDir)
      // a whole-log batch replay is trivially "ordered" delivery: the fence
      // may filter (everything at-or-below it was fully applied before)
      val bm = Ingest.replayLog(table, ChangeLog.readDF(spark, logDir),
        Ingest.IngestConfig(orderedDelivery = true,
          sigStoreDir = sys.env.get("GRAFT_SIGSTORE").filter(_.nonEmpty)))
      println(s"replayed: seen=${bm.eventsSeen} applied=${bm.eventsApplied} " +
        s"tombstones=${bm.tombstonesWritten} conflicts=${bm.conflictsLww} " +
        s"deadLetters=${bm.deadLetters} fencedOut=${bm.skippedByFence} ddl=${bm.ddlApplied}")
      report(spark, tableDir)

    case "tail" =>
      // continuous tail; stops gracefully when `stop <tableDir>` is issued
      // (or via the HTTP control plane's /stop). GRAFT_HTTP_PORT picks the
      // port (default: ephemeral, published to <tableDir>/_control/http.port)
      val Array(_, logDir, tableDir, ckptDir) = args.take(4)
      val mft = if (args.length > 4) args(4).toInt else 8
      if (!LakeTable.exists(tableDir)) LakeTable.create(spark, tableDir)
      val port = sys.env.get("GRAFT_HTTP_PORT").map(_.toInt).getOrElse(0)
      StreamIngest.tail(spark, logDir, tableDir, ckptDir, mft, cfg = defaultCfg,
        httpPort = Some(port))
      report(spark, tableDir)

    case "tailrules" =>
      // continuous N-rule tail (the reference's one-canal/N-rules process):
      // `tailrules <logDir> <ckptDir> <maxFiles> name=tableDir...` — pause
      // ONE rule with `pause <itsTableDir>` (or POST /rules/{name}/pause)
      // while the others keep consuming; `start` resumes it losslessly via a
      // catch-up replay from the rule's own offset fence. POST /stop (or a
      // stop marker in <ckptDir>/_graftctl) ends the whole pipeline.
      val Array(_, logDir, ckptDir, mftS) = args.take(4)
      val rules = args.drop(4).toSeq.map { spec =>
        val Array(name, dir) = spec.split("=", 2)
        if (!LakeTable.exists(dir)) LakeTable.create(spark, dir)
        StreamIngest.Rule(name, dir, defaultCfg)
      }
      val rport = sys.env.get("GRAFT_HTTP_PORT").map(_.toInt).getOrElse(0)
      StreamIngest.tailRules(spark, logDir, rules, ckptDir, mftS.toInt,
        httpPort = Some(rport))
      rules.foreach(r => report(spark, r.tableDir))

    case "stop" =>
      // process-level stop; resume = re-run `tail`/`run` with the same
      // checkpoint dir
      StreamIngest.requestStop(args(1))
      println(s"stop requested for ${args(1)} (tail ends at the next batch " +
        "boundary; the in-flight micro-batch finishes its commit first)")

    case "pause" =>
      // reference /rules/{name}/stop analog: the tail's query ends at the
      // next batch boundary but the process stays up; `start` resumes it
      StreamIngest.requestPause(args(1))
      println(s"pause requested for ${args(1)} (resume with `start`)")

    case "start" =>
      // reference /rules/{name}/start analog: a paused tail relaunches from
      // its checkpoint — lossless (everything that arrived while paused
      // is processed on resume)
      StreamIngest.requestStart(args(1))
      println(s"start requested for ${args(1)}")

    case "report" =>
      report(spark, args(1))
      val prog = java.nio.file.Paths.get(args(1), "_progress", "progress.jsonl")
      if (java.nio.file.Files.exists(prog)) {
        val lines = java.nio.file.Files.readAllLines(prog)
        println(s"progress: ${lines.size()} events; last:")
        lines.asScala.takeRight(3).foreach(l => println(s"  ${l.take(400)}"))
      }

    case "readat" => // time travel: committed state as of an older version
      val table = LakeTable.load(spark, args(1))
      val s = table.snapshotAt(args(2).toLong)
      println(s"table=${args(1)} version=${s.version} (latest=${table.snapshot.version}) " +
        s"schemaId=${s.schemaId} rows~=${s.totalRows}")
      val rows = table.read(s)
      println(s"liveRows=${rows.count()}")
      rows.orderBy("repo", "path").show(20, truncate = 60)

    case "changes" => // change data feed over (fromVersion, toVersion]
      val table = LakeTable.load(spark, args(1))
      val from = args(2).toLong
      val to = if (args.length > 3) args(3).toLong else table.snapshot.version
      val (feed0, st) = graft.lake.ChangeFeed.changesBetweenWithStats(table, from, to)
      val feed = feed0.localCheckpoint(true)
      import org.apache.spark.sql.functions.{col, count, lit}
      val byOp = feed.groupBy(col(graft.lake.ChangeFeed.OpColName))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(", ")
      println(s"changes ($from, $to]: ${feed.count()} rows {$byOp}; " +
        f"read ${st.rowsInScope} rows in ${st.oldFilesRead + st.newFilesRead} files " +
        f"(${st.scanFraction * 100}%.1f%% of a both-sides table scan)")
      feed.orderBy("repo", "path").show(20, truncate = 60)

    case "chain" => // derived-table sync off the source's change feed
      val src = LakeTable.load(spark, args(1))
      val dst =
        if (LakeTable.exists(args(2))) LakeTable.load(spark, args(2))
        else LakeTable.create(spark, args(2), numBuckets = src.numBuckets)
      def syncOnce(): Unit = {
        val r = graft.ingest.ChainApply.sync(src, dst)
        println(s"chained ${args(2)} <- ${args(1)}: window=(${r.fromVersion}, ${r.toVersion}] " +
          s"applied=${r.applied} deadLetters=${r.deadLetters}")
      }
      val intervalSec = if (args.length > 3) math.max(1, args(3).toInt) else -1
      if (intervalSec < 0) { syncOnce(); report(spark, args(2)) }
      else { // continuous chain: poll the source, `Main stop <dstTable>` ends it
        val marker = java.nio.file.Paths.get(args(2), "_control", "stop")
        println(s"chaining every ${intervalSec}s; `stop ${args(2)}` ends it after a final sync")
        var stop = false
        while (!stop) {
          syncOnce()
          // 1 s-granular interruptible sleep: a stop during the wait still
          // gets its FINAL sync (the loop body above) before exiting
          var slept = 0
          while (!stop && slept < intervalSec) {
            Thread.sleep(1000L); slept += 1
            stop = java.nio.file.Files.exists(marker)
          }
        }
        syncOnce() // the promised final sync after the stop request
        java.nio.file.Files.deleteIfExists(marker)
        println("chain stopped")
        report(spark, args(2))
      }

    case "compact" =>
      val table = LakeTable.load(spark, args(1))
      val horizon = if (args.length > 2) Some(args(2).toLong) else None
      val r = graft.lake.Maintenance.compact(table, tombstoneHorizon = horizon, force = true)
      println(s"compacted: buckets=${r.bucketsCompacted} tombstonesDropped=${r.tombstonesDropped}")
      report(spark, args(1))

    case "rebucket" =>
      val table = LakeTable.load(spark, args(1))
      val r = graft.lake.Maintenance.rebucket(table, args(2).toInt)
      println(s"rebucketed: ${r.oldBuckets} -> ${r.newBuckets} buckets, ${r.filesWritten} files")
      report(spark, args(1))

    case "expire" =>
      val table = LakeTable.load(spark, args(1))
      val keep = if (args.length > 2) args(2).toInt else 2
      val n = graft.lake.Maintenance.expireSnapshots(table, keep)
      println(s"expired $n snapshots (kept last $keep)")

    case "verify" =>
      // replay-reconvergence check: replay the log into a fresh table and
      // compare per-row sha2(content, 256) — the north-rule invariant.
      val Array(_, logDir, tableDir) = args.take(3)
      import org.apache.spark.sql.functions._
      val tmp = java.nio.file.Files.createTempDirectory("graft-verify").toString
      LakeTable.create(spark, s"$tmp/table")
      Ingest.replayLog(LakeTable.load(spark, s"$tmp/table"), ChangeLog.readDF(spark, logDir))
      def sha(dir: String) = LakeTable.load(spark, dir).read()
        .select(col("repo"), col("path"), sha2(col("content"), 256).as("sha"))
      val diff = sha(tableDir).exceptAll(sha(s"$tmp/table"))
        .unionAll(sha(s"$tmp/table").exceptAll(sha(tableDir))).count()
      println(if (diff == 0) "CONVERGED: table matches an independent replay (sha256 per row)"
              else s"DIVERGED: $diff row-sha differences")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      if (diff != 0) sys.exit(1)

    case other =>
      System.err.println(s"unknown command: $other"); usage(); sys.exit(2)
  }

  /** Position + run report (reference: /cobra/position + /rules/report,
    * /root/reference/cobra/cobra_http.go:50-61, handler_http.go:10-50). */
  private def report(spark: SparkSession, tableDir: String): Unit = {
    val table = LakeTable.load(spark, tableDir)
    val s = table.snapshot
    val mor = if (s.deltaFiles.isEmpty) ""
      else s" deltaFiles=${s.deltaFiles.size} deltaEvents=${s.deltaRows}"
    println(s"table=$tableDir version=${s.version} schemaId=${s.schemaId} " +
      s"files=${s.files.size} buckets=${s.numBuckets} rows~=${s.totalRows} gtid=${s.maxSeq}$mor")
    println(s"fence=${s.fence.toSeq.sortBy(_._1).map { case (p, o) => s"$p:$o" }.mkString("{", ", ", "}")}")
    println(s"metrics=${s.metrics.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("{", ", ", "}")}")
    println(s"liveRows=${table.read().count()}")
  }

  private def usage(): Unit = System.err.println(
    """usage: graft.app.Main <command> ...
      |  gen     <logDir> [nEvents] [nRepos] [pathsPerRepo] [nPartitions] [ddlEvery]
      |  run     <logDir> <tableDir> <checkpointDir> [maxFilesPerTrigger]
      |  tail    <logDir> <tableDir> <checkpointDir> [maxFilesPerTrigger]  # continuous; `stop` ends it
      |  tailrules <logDir> <checkpointDir> <maxFiles> name=tableDir...    # continuous N-rule tail; per-rule pause/start
      |  stop    <tableDir>
      |  pause   <tableDir>                 # suspend a tail at a batch boundary (process stays up)
      |  start   <tableDir>                 # resume a paused tail from its checkpoint
      |  replay  <logDir> <tableDir>
      |  report  <tableDir>
      |  fold    <tableDir>                 # compact merge-on-read deltas into base
      |  readat  <tableDir> <version>       # time travel: read an older committed version
      |  changes <tableDir> <fromVersion> [toVersion]  # change data feed over (from, to]
      |  chain   <srcTable> <dstTable> [intervalSec]  # sync a derived table off the source's
      |                                     # change feed (interval ⇒ continuous; `stop <dst>` ends)
      |  compact <tableDir> [tombstoneHorizonSeq]
      |  rebucket <tableDir> <newBuckets>
      |  expire  <tableDir> [keepSnapshots]
      |  verify  <logDir> <tableDir>
      |  version
      |env: GRAFT_MOR=0 (opt run/tail back into copy-on-write; merge-on-read is the default),
      |     GRAFT_SIGSTORE=<dir> (maintain a near-dup signature store from run/tail/replay),
      |     GRAFT_HTTP_PORT=<p> (tail control plane), SPARK_GRAFT_CPUS""".stripMargin)
}
