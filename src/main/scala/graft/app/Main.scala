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
  * cmd/positions/report.go, cmd/positions/save.go). Its 18 verbs (arguments
  * in [[usage]]):
  *
  * {{{
  *   gen                               write a deterministic changelog
  *   run | replay                      bounded ingest: AvailableNow stream | batch replay
  *   tail | tailrules                  continuous stream: one table | N named rules
  *   stop | pause | start              stop a tail; pause/resume one rule (lossless)
  *   report | readat | changes         position + lineage, time travel, change feed
  *   chain                             derived-table sync off a change feed
  *   fold | compact | rebucket | expire  table maintenance
  *   verify | version                  replay-convergence check, engine version
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
    val cli = cliConfig()
    val spark = session("graft-cdc")
    try dispatch(spark, cli, args)
    finally spark.stop()
  }

  /** The one session builder of the engine's mains (`Main`, `GenSf`,
    * `IncrementalBench`, `Diag`). `cores` pins `local[cores]`; otherwise the
    * master is SPARK_GRAFT_MASTER, else `local[SPARK_GRAFT_CPUS]` (default:
    * every core). Shuffle partitions follow the core count. */
  def session(appName: String, cores: Option[Int] = None): SparkSession = {
    val cpus = cores.getOrElse(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors()))
    val master = if (cores.isDefined) s"local[$cpus]"
      else sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
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
      .config("spark.io.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The CLI's settings from its environment. `streaming` is the config of
    * `run`/`tail`/`tailrules`: merge-on-read with the async partial-fold
    * cadence ([[graft.ingest.Ingest.IngestConfig.streamingDefault]]) — the
    * high-throughput shape. GRAFT_MOR=0 opts back into copy-on-write
    * streaming (one merge per micro-batch; the right shape only when batches
    * are large and keys cluster). */
  final case class CliConfig(streaming: Ingest.IngestConfig, httpPort: Int) {
    /** `replay`: a whole-log batch replay is trivially "ordered" delivery —
      * the fence may filter (everything at-or-below it was fully applied). */
    def replay: Ingest.IngestConfig =
      Ingest.IngestConfig(orderedDelivery = true, sigStoreDir = streaming.sigStoreDir)
  }

  /** Every CLI knob, read once (the env table in README). */
  def cliConfig(env: Map[String, String] = sys.env): CliConfig = {
    val base = Ingest.IngestConfig.streamingDefault
    def flag(name: String, values: String*) = env.get(name).exists(values.contains)
    CliConfig(
      base.copy(
        morMode = !flag("GRAFT_MOR", "0", "false"),
        morFoldEvery = env.get("GRAFT_MOR_FOLD_EVERY").map(_.toInt).getOrElse(base.morFoldEvery),
        // cadence folds are PARTIAL by default (only buckets whose backlog
        // reached this many events rewrite base — a cadence tick must never
        // be O(table)); GRAFT_MOR_FOLD_MIN_PER_BUCKET=0 forces unconditional
        // folds, and the explicit CLI `fold <table> [minEvents]` is always
        // available for a final full compaction
        morFoldMinEventsPerBucket = env.get("GRAFT_MOR_FOLD_MIN_PER_BUCKET").map(_.toLong)
          .getOrElse(base.morFoldMinEventsPerBucket),
        // GRAFT_SIGSTORE=<dir>: maintain a persisted near-dup signature store
        // alongside the table (SigStore.maintainFromEvents per batch) so
        // incoming batches can be near-dup-checked in O(batch) via
        // SigStore.incrementalPairs — no corpus rescan
        sigStoreDir = env.get("GRAFT_SIGSTORE").filter(_.nonEmpty)),
      // tail control plane; 0 = ephemeral, the bound port is published to
      // <tableDir>/_control/http.port
      httpPort = env.get("GRAFT_HTTP_PORT").map(_.toInt).getOrElse(0))
  }

  private[graft] def dispatch(spark: SparkSession, cli: CliConfig, args: Array[String]): Unit = args(0) match {
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
      StreamIngest.runAvailable(spark, logDir, tableDir, ckptDir, mft, cfg = cli.streaming)
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
      val bm = Ingest.replayLog(table, ChangeLog.readDF(spark, logDir), cli.replay)
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
      StreamIngest.tail(spark, logDir, tableDir, ckptDir, mft, cfg = cli.streaming,
        httpPort = Some(cli.httpPort))
      report(spark, tableDir)

    case "tailrules" =>
      // continuous N-rule tail (the reference's one-canal/N-rules process):
      // `tailrules <logDir> <ckptDir> <maxFiles> name=tableDir...` — pause
      // ONE rule with `pause <itsTableDir>` (or POST /rules/{name}/pause)
      // while the others keep consuming; `start` resumes it losslessly via a
      // catch-up replay from the rule's own offset fence. POST /stop (or a
      // stop marker in <ckptDir>/_graftctl) ends the whole pipeline.
      // every argument is checked before any table is created
      val specs = ruleSpecs(args.drop(4).toSeq, cli.streaming.sigStoreDir)
        .filterOrElse(_ => args(3).toIntOption.isDefined, s"maxFiles '${args(3)}' is not an integer")
      val rules = specs match {
        case Left(why) => System.err.println(s"tailrules: $why"); usage(); sys.exit(2)
        case Right(ok) => ok.map { case (name, dir) =>
          if (!LakeTable.exists(dir)) LakeTable.create(spark, dir)
          StreamIngest.Rule(name, dir, cli.streaming)
        }
      }
      StreamIngest.tailRules(spark, args(1), rules, args(2), args(3).toInt,
        httpPort = Some(cli.httpPort))
      rules.foreach(r => report(spark, r.tableDir))

    case "stop" =>
      // process-level stop; resume = re-run `tail`/`run` with the same
      // checkpoint dir
      StreamIngest.requestStop(args(1))
      println(s"stop requested for ${args(1)} (tail ends at the next batch " +
        "boundary; the in-flight micro-batch finishes its commit first)")

    case "pause" =>
      // reference /rules/{name}/stop analog: the tail (or the rule of a
      // `tailrules`) writing this table skips it from the next batch on; the
      // stream and the process stay up. Durable until `start`
      StreamIngest.requestPause(args(1))
      println(s"pause requested for ${args(1)} (resume with `start`)")

    case "start" =>
      // reference /rules/{name}/start analog: lossless — the driver replays
      // everything above the table's own fence before its next apply
      StreamIngest.requestStart(args(1))
      println(s"start requested for ${args(1)}")

    case "report" =>
      report(spark, args(1))
      val prog = graft.streaming.ProgressListener.file(args(1))
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
        val marker = StreamIngest.stopMarker(args(2))
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
      // buckets of one file are rewritten only to drop tombstones
      val r = graft.lake.Maintenance.compact(table, tombstoneHorizon = horizon,
        force = horizon.isDefined)
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

  /** `name=tableDir` rule specs of `tailrules`: every name non-empty and
    * unique, every table dir non-empty and its own, at least one rule, and
    * at most one rule when a signature store (`GRAFT_SIGSTORE`) is set —
    * every rule would append to that one store. */
  def ruleSpecs(specs: Seq[String],
      sigStoreDir: Option[String] = None): Either[String, Seq[(String, String)]] = {
    val names = specs.map(_.takeWhile(_ != '='))
    val dirs = specs.map(s => s.drop(s.indexOf('=') + 1))
    val paths = dirs.map(d => java.nio.file.Paths.get(d).toAbsolutePath.normalize)
    if (specs.isEmpty) Left("at least one name=tableDir rule")
    else specs.find(!_.matches("[^=]+=.+")) match {
      case Some(bad) => Left(s"rule spec '$bad' is not name=tableDir")
      case None => names.diff(names.distinct).headOption match {
        case Some(dup) => Left(s"duplicate rule name '$dup'")
        case None => paths.diff(paths.distinct).headOption match {
          case Some(dup) => Left(s"two rules share table dir $dup")
          case None if sigStoreDir.isDefined && specs.size > 1 =>
            Left("GRAFT_SIGSTORE names one signature store, so it takes one rule")
          case None => Right(names.zip(dirs))
        }
      }
    }
  }

  private def usage(): Unit = System.err.println(
    """usage: graft.app.Main <command> ...
      |  gen     <logDir> [nEvents] [nRepos] [pathsPerRepo] [nPartitions] [ddlEvery]
      |  run     <logDir> <tableDir> <checkpointDir> [maxFilesPerTrigger]  # bounded (AvailableNow)
      |  tail    <logDir> <tableDir> <checkpointDir> [maxFilesPerTrigger]  # continuous; `stop` ends it
      |  tailrules <logDir> <checkpointDir> <maxFiles> name=tableDir...    # continuous N-rule tail; per-rule pause/start
      |  stop    <tableDir>
      |  pause   <tableDir>                 # stop applying to this table from the next batch (tail or
      |                                     # tailrules rule; the stream runs on; durable until start)
      |  start   <tableDir>                 # resume: replay what it missed above its fence, then rejoin
      |  replay  <logDir> <tableDir>
      |  report  <tableDir>
      |  fold    <tableDir>                 # compact merge-on-read deltas into base
      |  readat  <tableDir> <version>       # time travel: read an older committed version
      |  changes <tableDir> <fromVersion> [toVersion]  # change data feed over (from, to]
      |  chain   <srcTable> <dstTable> [intervalSec]  # sync a derived table off the source's
      |                                     # change feed (interval ⇒ continuous; `stop <dst>` ends)
      |  compact <tableDir> [tombstoneHorizonSeq]  # merge multi-file buckets; with a horizon,
      |                                     # rewrite every bucket without tombstones at or below it
      |  rebucket <tableDir> <newBuckets>
      |  expire  <tableDir> [keepSnapshots]
      |  verify  <logDir> <tableDir>
      |  version
      |env (read once at start; the table in README):
      |  GRAFT_MOR=0|false                  run/tail/tailrules copy-on-write (default: merge-on-read)
      |  GRAFT_MOR_FOLD_EVERY=<n>           MOR fold cadence in micro-batches (default 2)
      |  GRAFT_MOR_FOLD_MIN_PER_BUCKET=<n>  cadence folds rewrite buckets with >= n events (default 16384)
      |  GRAFT_SIGSTORE=<dir>               maintain a near-dup signature store from run/tail/replay
      |                                     # (and a one-rule tailrules)
      |  GRAFT_HTTP_PORT=<p>                tail/tailrules control plane port (default 0: ephemeral)
      |  SPARK_GRAFT_CPUS=<n>               local cores and shuffle partitions (default: every core)
      |  SPARK_GRAFT_MASTER=<url>           Spark master (default: local[SPARK_GRAFT_CPUS])
      |  SPARK_DRIVER_MEM=<size>            driver heap under sbt or tools/jrun.sh (default 12g)""".stripMargin)
}
