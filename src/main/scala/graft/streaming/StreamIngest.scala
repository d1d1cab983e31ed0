package graft.streaming

import graft.ingest.{Ingest, MorFolds}
import graft.ingest.Ingest.IngestConfig
import graft.lake.LakeTable
import graft.log.ChangeLog
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CompletableFuture, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

/** Structured Streaming front-end: tail the durable changelog and apply each
  * micro-batch to every rule's table through the exactly-once ingest path.
  *
  * This is the Spark-native shape of the reference's whole runtime
  * (SURVEY §3.1): the canal replication thread becomes the file-stream
  * source; the 100k-event handler buffer
  * (reference config/configure.go:13) becomes `maxFilesPerTrigger`;
  * each rule factory's goroutine (reference rules/factory.go:182-217)
  * becomes one driver task per rule and micro-batch, so the rules apply a
  * batch concurrently; consumer worker pools become shuffle parallelism; the
  * best-effort `t_positions` save becomes TWO cooperating checkpoints —
  * Spark's streaming checkpoint (source progress) and each LakeTable's offset
  * fence (committed atomically WITH the data), so a crash between the two
  * replays a batch that the fence then skips: exactly-once end-to-end.
  *
  * Every entry point is one call of ONE driver loop over `Seq[Rule]` (the
  * reference's one canal dispatching to N registered rules,
  * reference cobra/handler.go:77-101): [[runAvailable]] and [[tail]]
  * drive one rule on one table, [[runRulesAvailable]] and [[tailRules]] N
  * rules. `Trigger.AvailableNow` is a bounded catch-up, `ProcessingTime(0)`
  * a live tail.
  *
  * Control, per pipeline: a stop marker ends the query at the next BATCH
  * BOUNDARY (the in-flight micro-batch always finishes its commit; an idle
  * stream is stopped by a watcher once no trigger is active). One-table
  * calls keep it in `<table>/_control/`, rule pipelines in
  * [[rulesControlDir]]. Pause, per rule (`<table>/_control/pause`, the
  * reference's `/rules/{name}/stop`, reference rules/factory_http.go:10-48)
  * is lossless: the stream never stops for it, the paused rule skips its
  * applies while its own fence stays put, and on resume a rule that skipped
  * a batch first CATCHES UP by a batch replay above that fence (the
  * reference's stopped rules simply miss events). Pause markers are durable
  * operator intent: no entry point clears them at start-up, so a table
  * paused before a restart stays paused until `start` — `tail` included (it
  * used to delete a stale pause marker and relaunch its query on resume).
  *
  * Resume: restart with the same checkpoint dir. Rebase (the reference's
  * `RebaseFlag`, reference config/config.go:15): use `latestFirst` /
  * a fresh checkpoint — the fence still dedups any overlap.
  */
object StreamIngest {

  /** One named rule of a pipeline: its own filter chain / salt / delivery
    * config (inside `cfg`) and its own sink table — each rule filters and
    * applies independently (reference rules/factory.go registry). */
  final case class Rule(name: String, tableDir: String, cfg: IngestConfig = IngestConfig.streamingDefault)

  /** Run to completion over the currently-available log (AvailableNow). */
  def runAvailable(
      spark: SparkSession,
      logDir: String,
      tableDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8,
      cfg: IngestConfig = IngestConfig.streamingDefault): Unit =
    drive(spark, logDir, Seq(oneRule(tableDir, cfg)), checkpointDir, maxFilesPerTrigger,
      Trigger.AvailableNow(), None, oneTable = true)

  /** Continuous one-table tail with run-report listener (progress JSONL in
    * `<tableDir>/_progress/`) and, with `httpPort`, the [[ControlServer]].
    * Blocks until stopped ([[requestStop]] / CLI `stop` / HTTP `/stop`) or
    * failed. */
  def tail(
      spark: SparkSession,
      logDir: String,
      tableDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8,
      cfg: IngestConfig = IngestConfig.streamingDefault,
      httpPort: Option[Int] = None): Unit =
    drive(spark, logDir, Seq(oneRule(tableDir, cfg)), checkpointDir, maxFilesPerTrigger,
      Trigger.ProcessingTime(0L), httpPort, oneTable = true)

  /** ONE stream, N rules, run to completion over the available log. */
  def runRulesAvailable(
      spark: SparkSession,
      logDir: String,
      rules: Seq[Rule],
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8): Unit =
    drive(spark, logDir, rules, checkpointDir, maxFilesPerTrigger, Trigger.AvailableNow(),
      None, oneTable = false)

  /** CONTINUOUS multi-rule tail with per-rule pause/start; blocks until the
    * global stop ([[requestStopRules]] / HTTP `/stop`) or a failure. */
  def tailRules(
      spark: SparkSession,
      logDir: String,
      rules: Seq[Rule],
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8,
      httpPort: Option[Int] = None): Unit =
    drive(spark, logDir, rules, checkpointDir, maxFilesPerTrigger, Trigger.ProcessingTime(0L),
      httpPort, oneTable = false)

  private def oneRule(tableDir: String, cfg: IngestConfig): Rule =
    Rule(Paths.get(tableDir).getFileName.toString, tableDir, cfg)

  /** The driver loop. The active rules apply each micro-batch concurrently,
    * one task per rule on a driver pool of `rules.size` threads, and each
    * rule reads the batch itself; per-table batchId fencing makes a
    * crash-retry idempotent PER RULE — tables that already committed the
    * batch skip it, the rest apply it, with no cross-rule coordination. So a
    * rule's freshness is its own apply, and the batch ends with its slowest
    * rule. The batch waits for every rule's task before it rethrows a
    * failure: a rule that is committing is never abandoned because another
    * one threw.
    *
    * One lock serializes batches, catch-up replays and the idle watcher, so
    * a catch-up and a live batch of one rule never interleave. A failure of
    * the idle watcher stops the query and is rethrown, like a failure inside
    * a batch. Two rules may not share a table dir (the second would see the
    * first's commit of the batch and skip it) nor a signature store (their
    * concurrent appends would collide in one parquet dir). */
  private def drive(spark: SparkSession, logDir: String, rules: Seq[Rule],
      checkpointDir: String, maxFilesPerTrigger: Int, trigger: Trigger,
      httpPort: Option[Int], oneTable: Boolean): Unit = {
    require(rules.nonEmpty, "at least one rule")
    require(rules.map(_.name).distinct.size == rules.size, "rule names must be unique")
    def distinctDirs(dirs: Seq[String]) =
      dirs.map(d => Paths.get(d).toAbsolutePath.normalize).distinct.size == dirs.size
    require(distinctDirs(rules.map(_.tableDir)), "rules must write distinct table dirs")
    require(distinctDirs(rules.flatMap(_.cfg.sigStoreDir)), "rules must maintain distinct signature stores")
    val ctl = pipelineHome(rules, checkpointDir, oneTable)
    // Cadence folds are live-tail only: a bounded AvailableNow catch-up ends
    // in a full fold, and mid-replay folds cost +23% on the 2M-event bulk
    // stream (each rewrites base the next fold rewrites again; BENCH r6 A/B).
    val live = trigger != Trigger.AvailableNow()
    // ONE table handle per rule for the whole stream: applyBatch refreshes
    // the snapshot from disk at each batch top
    val tables = rules.map(r => (r, LakeTable.load(spark, r.tableDir)))
    val stop = ctl.resolve("stop")
    Files.createDirectories(ctl)
    Files.deleteIfExists(stop) // a stale stop must not end a fresh run
    val paused = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val lock = new Object

    // Under the lock: record which rules the driver stops applying and run
    // the catch-up of every resumed rule — a batch replay above the rule's
    // own fence, ordered by construction (the log's (partition, offset) is a
    // total order per partition). Returns the rules to apply, each with
    // whether it just caught up.
    //
    // Only a paused rule SKIPPING batch `skipping`, one it has not committed,
    // owes a catch-up. It persists `<table>/_control/catchup` (so a pause
    // lifted while the pipeline is down cannot lose the gap; only a completed
    // catch-up removes it). The catch-up commits as batch fence + 1, which is
    // then at most the skipped batch: the stream's next batch id stays above
    // it. A catch-up marked without a skipped batch (a pause and a start on
    // an idle stream) would commit the next batch's id, and that batch
    // would then be skipped whole.
    def observe(skipping: Long = -1L): Seq[((Rule, LakeTable), Boolean)] =
      tables.flatMap { case rt @ (r, table) =>
        if (pauseRequested(r.tableDir)) {
          if (paused.add(r.name)) MorFolds.drain(r.tableDir) // nothing of it in flight
          if (skipping >= 0 && skipping > table.refresh().committedBatchId)
            touch(catchupMarker(r.tableDir), overwrite = false)
          None
        } else {
          val catchUp = Files.exists(catchupMarker(r.tableDir))
          if (catchUp) {
            Ingest.replayLog(table, ChangeLog.readDF(spark, logDir), r.cfg.copy(orderedDelivery = true))
            Files.deleteIfExists(catchupMarker(r.tableDir))
          }
          paused.remove(r.name)
          Some(rt -> catchUp)
        }
      }
    def settled(r: Rule): Boolean = {
      val p = pauseRequested(r.tableDir)
      p == paused.contains(r.name) && (p || !Files.exists(catchupMarker(r.tableDir)))
    }

    val listener = new ProgressListener(rules.map(_.tableDir))
    spark.streams.addListener(listener)
    val control = httpPort.map { p =>
      val c = new ControlServer(rules, ProgressListener.file(rules.head.tableDir),
        () => touch(stop), paused.contains, p)
      Files.writeString(ctl.resolve("http.port"), c.port.toString)
      println(s"control plane on http://127.0.0.1:${c.port} (/rules /rules/{name}/report|pause|start " +
        s"/progress /stop${if (rules.size == 1) " /report /pause /start /state" else ""})")
      c
    }
    val threads = new java.util.concurrent.atomic.AtomicInteger
    val pool = Executors.newFixedThreadPool(rules.size, (task: Runnable) => {
      val t = new Thread(task, s"graft-rule-${threads.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    try {
      lock.synchronized(observe())
      val q = ChangeLog.readStream(spark, logDir, maxFilesPerTrigger).writeStream
        .queryName(s"graft-${rules.map(_.name).mkString("+")}")
        .option("checkpointLocation", checkpointDir)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // boundary stop: the batch has done nothing and is re-delivered on resume
          if (Files.exists(stop)) throw new GracefulStopException
          lock.synchronized {
            // each task carries the micro-batch's local properties (its
            // batch id, call site and SQL execution root) and active session
            val session = batch.sparkSession.asInstanceOf[classic.SparkSession]
            awaitAll(observe(skipping = batchId).map { case ((r, table), caughtUp) =>
              SQLExecution.withThreadLocalCaptured(session, pool) {
                // a batch the catch-up replay just covered is fenced out at
                // the scan instead of re-merged through LWW
                Ingest.applyBatch(table, batch, batchId,
                  if (caughtUp) r.cfg.copy(orderedDelivery = true) else r.cfg)
                if (live) foldOnCadence(spark, r.tableDir, r.cfg, batchId)
              }
            })
          }
        }
        .start()
      // idle-stream fallback: with no incoming data no batch boundary fires,
      // so stop once no trigger is active, and observe pauses and resumes
      val watchFailure = new AtomicReference[Throwable]
      val watcher = new Thread(() =>
        try while (q.isActive) {
          if (Files.exists(stop) && !q.status.isTriggerActive) q.stop()
          else {
            if (!rules.forall(settled)) lock.synchronized(observe())
            Thread.sleep(250)
          }
        } catch { case t: Throwable => watchFailure.set(t); q.stop() },
        s"graft-stream-watch-${q.id}")
      watcher.setDaemon(true)
      watcher.start()
      try q.awaitTermination()
      catch { case e: StreamingQueryException if isGracefulStop(e) => }
      watcher.join()
      Option(watchFailure.get).foreach(t => throw t)
    } finally {
      pool.shutdown()
      control.foreach { c => c.close(); Files.deleteIfExists(ctl.resolve("http.port")) }
      spark.streams.removeListener(listener)
      Files.deleteIfExists(stop)
    }
    // surface (and wait out) any in-flight async cadence fold: callers
    // observe quiesced tables when this returns
    rules.foreach(r => MorFolds.drain(r.tableDir))
  }

  /** Waits for every task, then rethrows the first failure with the others
    * suppressed. An interrupt (a `stop()` of the query) does not abandon a
    * task in flight: the wait goes on and the interrupt is restored after. */
  private def awaitAll(tasks: Seq[CompletableFuture[Unit]]): Unit = {
    var interrupted = false
    def failure(t: CompletableFuture[Unit]): Option[Throwable] =
      try { t.get(); None }
      catch {
        case e: ExecutionException => Some(e.getCause)
        case _: InterruptedException => interrupted = true; failure(t)
      }
    val failures = tasks.flatMap(failure)
    if (interrupted) Thread.currentThread().interrupt()
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  /** MOR compaction cadence after batch `batchId`: fold is idempotent and
    * fenced like any commit, so a crash-retry of the batch at worst re-folds
    * a no-op. Async — compaction overlaps the next micro-batches instead of
    * stalling the trigger loop (failures surface at the next tick or at
    * drain). */
  private def foldOnCadence(spark: SparkSession, tableDir: String, cfg: IngestConfig,
      batchId: Long): Unit =
    if (cfg.morMode && cfg.morFoldEvery > 0 && batchId > 0 && batchId % cfg.morFoldEvery == 0) {
      MorFolds.submit(spark, tableDir, cfg.morFoldMinEventsPerBucket)
      ()
    }

  // ---- marker layout: the only place that knows it ----

  private def controlDir(tableDir: String): Path = Paths.get(tableDir, "_control")

  /** Where a pipeline keeps its stop marker and published HTTP port: the
    * table's control dir for a one-table pipeline, [[rulesControlDir]] for a
    * rule pipeline. (Its run report lives beside every rule's table.) */
  private def pipelineHome(rules: Seq[Rule], checkpointDir: String, oneTable: Boolean): Path =
    if (oneTable) controlDir(rules.head.tableDir) else Paths.get(rulesControlDir(checkpointDir))
  private def pauseMarker(tableDir: String): Path = controlDir(tableDir).resolve("pause")
  private def catchupMarker(tableDir: String): Path = controlDir(tableDir).resolve("catchup")

  /** Stop marker of the one-table pipeline (or `chain` follower) on `tableDir`. */
  def stopMarker(tableDir: String): Path = controlDir(tableDir).resolve("stop")

  /** Control dir of a rule pipeline (beside the Spark checkpoint state;
    * Spark ignores unknown entries there). */
  def rulesControlDir(checkpointDir: String): String =
    Paths.get(checkpointDir, "_graftctl").toString

  private def touch(p: Path, overwrite: Boolean = true): Unit =
    if (overwrite || !Files.exists(p)) {
      Files.createDirectories(p.getParent)
      Files.writeString(p, java.time.Instant.now().toString)
      ()
    }

  /** Request a graceful stop of the one-table pipeline on `tableDir` — the
    * file-based analog of the reference's `/rules/{name}/stop` HTTP route
    * (reference rules/factory_http.go:10-25). The running query
    * finishes its in-flight micro-batch (commit included) and terminates;
    * `tail` with the same checkpoint resumes with nothing lost. */
  def requestStop(tableDir: String): Unit = touch(stopMarker(tableDir))

  /** Request a graceful stop of a rule pipeline. */
  def requestStopRules(checkpointDir: String): Unit =
    touch(Paths.get(rulesControlDir(checkpointDir), "stop"))

  /** Pause the rule whose table is `tableDir` at the next batch boundary;
    * its pipeline and the other rules keep running. */
  def requestPause(tableDir: String): Unit = touch(pauseMarker(tableDir))

  /** Resume a paused rule (`/rules/{name}/start` analog): clears the pause
    * marker; the driver replays everything above the rule's fence before its
    * next apply — nothing skipped. */
  def requestStart(tableDir: String): Unit = {
    Files.deleteIfExists(pauseMarker(tableDir))
    ()
  }

  /** Whether a pause is REQUESTED for `tableDir` — the operator intent
    * `/rules` reports (the driver may not have observed it yet). */
  def pauseRequested(tableDir: String): Boolean = Files.exists(pauseMarker(tableDir))

  /** Thrown by foreachBatch at a batch boundary when a stop was requested:
    * the previous batch's commit is complete, the current batch has done no
    * work — the honest "finish in-flight, then stop" semantics (a raw
    * StreamingQuery.stop() would interrupt the micro-batch thread mid-commit
    * and rely on fencing to clean up the replay). */
  final class GracefulStopException
    extends RuntimeException("graceful stop requested at batch boundary")

  private def isGracefulStop(e: Throwable): Boolean =
    e != null && (e.isInstanceOf[GracefulStopException] || isGracefulStop(e.getCause))
}
