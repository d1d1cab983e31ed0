package graft.streaming

import graft.ingest.Ingest
import graft.ingest.Ingest.IngestConfig
import graft.lake.LakeTable
import graft.log.ChangeLog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming front-end: tail the durable changelog and apply each
  * micro-batch through the exactly-once ingest path.
  *
  * This is the Spark-native shape of the reference's whole runtime
  * (SURVEY §3.1): the canal replication thread becomes the file-stream
  * source; the 100k-event handler buffer
  * (/root/reference/config/configure.go:13) becomes `maxFilesPerTrigger`;
  * rule/consumer worker pools become shuffle parallelism; the best-effort
  * `t_positions` save becomes TWO cooperating checkpoints — Spark's streaming
  * checkpoint (source progress) and the LakeTable's offset fence (committed
  * atomically WITH the data), so a crash between the two replays a batch that
  * the fence then skips: exactly-once end-to-end.
  *
  * Resume: restart with the same checkpoint dir. Rebase (the reference's
  * `RebaseFlag`, /root/reference/config/config.go:15): use `latestFirst` /
  * a fresh checkpoint — the fence still dedups any overlap.
  */
object StreamIngest {

  def start(
      spark: SparkSession,
      logDir: String,
      tableDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8,
      availableNow: Boolean = true,
      cfg: IngestConfig = IngestConfig.streamingDefault,
      /** e.g. Some("10 minutes"): state-store dedup of (partition, offset)
        * ACROSS micro-batches via dropDuplicatesWithinWatermark — for sources
        * that can re-deliver an event in a different batch within a bounded
        * event-time window (the per-batch LWW dedup already handles
        * duplicates inside one batch, and the merge's LWW handles the rest;
        * this trims the redundant merge work early at bounded state cost). */
      dedupWithinWatermark: Option[String] = None,
      /** When set, the marker file is checked at each BATCH BOUNDARY (before
        * any work for the next batch starts): true graceful-stop semantics —
        * the in-flight batch always finishes its commit; the batch that
        * observes the marker throws [[StreamIngest.GracefulStopException]]
        * having done nothing, and is re-delivered untouched on resume. */
      stopMarkerAtBoundary: Option[java.nio.file.Path] = None,
      /** Same boundary semantics for PAUSE (the reference's per-rule
        * stop/start, /root/reference/rules/factory_http.go:10-48): the query
        * ends gracefully but [[tail]] keeps the process alive and relaunches
        * from the SAME checkpoint when `/start` clears the marker — losslessly,
        * unlike the reference (whose stopped rules simply miss events). */
      pauseMarkerAtBoundary: Option[java.nio.file.Path] = None): StreamingQuery = {

    // Bounded catch-up replays don't schedule cadence folds (suppressed at
    // the tick below) and end in a full fold that self-heals the histogram,
    // so the per-batch histogram Observation is pure overhead there —
    // measured ~15% of bulk-stream wall at 64 buckets (BENCH r6 A/B).
    val effCfg = if (availableNow) cfg.copy(morBatchHistogram = false) else cfg

    val raw = ChangeLog.readStream(spark, logDir, maxFilesPerTrigger)
    val events = dedupWithinWatermark match {
      case Some(delay) =>
        raw.withWatermark("ts", delay)
          .dropDuplicatesWithinWatermark("partition", "offset")
      case None => raw
    }
    val trigger =
      if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(0L)

    // ONE table handle for the whole stream: applyBatch refreshes the
    // snapshot from disk at each batch top, so re-`load`ing per micro-batch
    // only re-did the snapshot-dir listing/parse on the serial path.
    val table = LakeTable.load(spark, tableDir)
    events.writeStream
      .queryName(s"graft-ingest-${java.nio.file.Paths.get(tableDir).getFileName}")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (stopMarkerAtBoundary.exists(java.nio.file.Files.exists(_)))
          throw new StreamIngest.GracefulStopException
        if (pauseMarkerAtBoundary.exists(java.nio.file.Files.exists(_)))
          throw new StreamIngest.GracefulPauseException
        Ingest.applyBatch(table, batch, batchId, effCfg)
        // SUPPRESSED under Trigger.AvailableNow: cadence folds exist to bound
        // READ amplification on a steady tail; a bounded catch-up replay ends
        // anyway, and every bucket keeps receiving events throughout, so each
        // mid-replay fold rewrites base files the next fold (or the final
        // explicit `fold`) rewrites again — measured +23% wall on the 2M-event
        // bulk stream (interleaved A/B vs the fold-at-end binary, BENCH r6).
        // Write amp per bucket is O(events/foldThreshold) folds vs exactly 1.
        if (!availableNow) foldOnCadence(table, tableDir, cfg, batchId)
        ()
      }
      .start()
  }

  /** MOR compaction cadence after batch `batchId`: fold is idempotent and
    * fenced like any commit, so a crash-retry of the batch at worst re-folds
    * a no-op. Async by default — compaction overlaps the next micro-batches
    * instead of stalling the trigger loop (failures surface at the next tick
    * or at drain). */
  private def foldOnCadence(table: LakeTable, tableDir: String, cfg: IngestConfig,
      batchId: Long): Unit =
    if (cfg.morMode && cfg.morFoldEvery > 0 && batchId > 0 && batchId % cfg.morFoldEvery == 0) {
      if (cfg.morFoldAsync)
        graft.ingest.MorFolds.submit(table.spark, tableDir, cfg.morFoldMinEventsPerBucket)
      else graft.ingest.Mor.fold(table, cfg.morFoldMinEventsPerBucket)
      ()
    }

  /** Run to completion over the currently-available log (AvailableNow). */
  def runAvailable(
      spark: SparkSession,
      logDir: String,
      tableDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8,
      cfg: IngestConfig = IngestConfig.streamingDefault): Unit = {
    val listener = new ProgressListener(tableDir)
    spark.streams.addListener(listener)
    val q = start(spark, logDir, tableDir, checkpointDir, maxFilesPerTrigger,
      availableNow = true, cfg)
    try {
      q.awaitTermination()
      // surface (and wait out) any in-flight async cadence fold: callers
      // observe a quiesced table when this returns
      graft.ingest.MorFolds.drain(tableDir)
    } finally spark.streams.removeListener(listener)
  }

  /** One named rule of a multi-rule pipeline: its own filter chain / salt /
    * delivery config (inside `cfg`) and its own sink table — the reference's
    * process layout, where one canal dispatches every event to each
    * registered rule and each rule filters and applies independently
    * (/root/reference/cobra/handler.go:77-101 fan-in,
    * /root/reference/rules/factory.go rule registry). */
  final case class Rule(name: String, tableDir: String, cfg: IngestConfig = IngestConfig.streamingDefault)

  /** ONE stream, N rules: each micro-batch is read once (persisted when more
    * than one rule consumes it) and applied to every rule's table through the
    * same exactly-once path. Per-table batchId fencing makes a crash-retry
    * idempotent PER RULE: tables that already committed the batch skip it,
    * the rest apply it — no cross-rule coordination needed.
    *
    * Scale note: rules apply sequentially within a batch (each apply is
    * itself a cluster-wide job; running them concurrently would only
    * interleave the same executors) — the batch scan is shared via persist,
    * so rule count multiplies merge work only, not source IO. */
  def runRulesAvailable(
      spark: SparkSession,
      logDir: String,
      rules: Seq[Rule],
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8): Unit = {
    require(rules.nonEmpty, "at least one rule")
    require(rules.map(_.name).distinct.size == rules.size, "rule names must be unique")
    val raw = ChangeLog.readStream(spark, logDir, maxFilesPerTrigger)
    val tables = rules.map(r => r -> LakeTable.load(spark, r.tableDir))
    val q = raw.writeStream
      .queryName(s"graft-rules-${rules.map(_.name).mkString("+")}")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val shared = if (tables.size > 1) batch.persist() else batch
        // bounded catch-up: same per-batch-histogram suppression as start()
        try tables.foreach { case (rule, table) =>
          Ingest.applyBatch(table, shared, batchId,
            rule.cfg.copy(morBatchHistogram = false))
        } finally {
          if (tables.size > 1) { shared.unpersist(blocking = false); () }
        }
        ()
      }
      .start()
    q.awaitTermination()
  }

  /** CONTINUOUS multi-rule tail with PER-RULE stop/start — the reference's
    * `/rules/{name}/stop` + `/start` surface (one canal process, N rules,
    * pausing one rule never interrupts the others —
    * /root/reference/rules/factory_http.go:10-48) with strictly stronger
    * semantics: a paused rule MISSES NOTHING.
    *
    * Mechanics: the single shared stream never stops for a rule-level pause.
    * Each micro-batch probes every rule's durable pause marker
    * (`<ruleTable>/_control/pause`, written by [[requestPause]] / CLI
    * `pause` / HTTP `/rules/{name}/pause`); a paused rule simply skips its
    * apply, so its OWN offset fence stays put while the stream (and the
    * other rules) advance. On resume the rule first CATCHES UP: a batch
    * replay of the changelog applied through the rule's config with the
    * ordered-delivery contract — every event at or below the rule's fence
    * is skipped at the scan, everything the rule missed applies exactly
    * once, DDLs ride the same ddlSeq fence. The reference's stopped rules
    * simply miss events; here pause is lossless because each rule's fence
    * is its own durable position (the `t_positions` analog, per rule).
    *
    * Pause markers are durable OPERATOR INTENT: they survive process
    * restarts (a rule paused yesterday stays paused across a redeploy) and
    * are therefore NOT cleared at startup, unlike the whole-process
    * stop/pause markers of [[tail]].
    *
    * Scale: a paused rule costs nothing (no job is launched for it); the
    * catch-up replay reads the log once in batch mode — O(log since fence)
    * per resume with partition/offset pruning at the scan, not O(pause
    * duration × rules).
    *
    * Blocks until the global stop fires (`stopCtl` marker via [[HTTP /stop]]
    * or [[requestStopRules]]) or the query fails. */
  def tailRules(
      spark: SparkSession,
      logDir: String,
      rules: Seq[Rule],
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8,
      httpPort: Option[Int] = None,
      controlDir: Option[String] = None): Unit = {
    require(rules.nonEmpty, "at least one rule")
    require(rules.map(_.name).distinct.size == rules.size, "rule names must be unique")
    val ctl = java.nio.file.Paths.get(controlDir.getOrElse(rulesControlDir(checkpointDir)))
    java.nio.file.Files.createDirectories(ctl)
    val stopM = ctl.resolve("stop")
    // a stale GLOBAL stop must not kill a fresh pipeline; per-rule pause
    // markers are durable intent and deliberately survive
    java.nio.file.Files.deleteIfExists(stopM)
    val listener = new ProgressListener(ctl.toString)
    spark.streams.addListener(listener)
    val control = httpPort.map { p =>
      val c = new RulesControlServer(ctl.toString, rules.map(r => r.name -> r.tableDir), p)
      val bound = c.start()
      println(s"rules control plane on http://127.0.0.1:$bound " +
        "(/rules /rules/{name}/report|pause|start /progress /stop)")
      c
    }
    val tables = rules.map(r => r -> LakeTable.load(spark, r.tableDir))
    // A rule needs a catch-up replay when the stream may have advanced past
    // it while it was paused. That fact must be DURABLE — a pause observed
    // just before the whole pipeline stops, with the operator clearing the
    // pause marker while the pipeline is down, would otherwise silently
    // lose the gap on restart. So the first batch (or startup) that sees a
    // rule paused persists `<table>/_control/catchup`; only a completed
    // catch-up replay removes it.
    def catchupMarker(dir: String): java.nio.file.Path =
      java.nio.file.Paths.get(dir, "_control", "catchup")
    def markCatchup(dir: String): Unit = {
      val m = catchupMarker(dir)
      if (!java.nio.file.Files.exists(m)) {
        java.nio.file.Files.createDirectories(m.getParent)
        java.nio.file.Files.writeString(m, java.time.Instant.now().toString)
        ()
      }
    }
    // applyLock serializes ALL applies to the rule tables: the live
    // foreachBatch path and the idle-resume watcher below never run
    // concurrently, so a catch-up replay and a live batch for the same rule
    // cannot interleave.
    val applyLock = new Object
    def catchUp(rule: Rule, table: LakeTable): Unit = {
      // lossless resume: the stream checkpoint advanced while this rule was
      // paused, so re-read the log in batch mode and apply everything above
      // the rule's own offset fence. Ordered delivery holds by construction
      // — the changelog's (partition, offset) is a total order per partition
      // and the fence covers exactly what this rule applied.
      Ingest.replayLog(table, ChangeLog.readDF(spark, logDir),
        rule.cfg.copy(orderedDelivery = true))
      java.nio.file.Files.deleteIfExists(catchupMarker(rule.tableDir))
      ()
    }
    rules.foreach(r => if (pauseRequested(r.tableDir)) markCatchup(r.tableDir))
    val raw = ChangeLog.readStream(spark, logDir, maxFilesPerTrigger)
    val q = raw.writeStream
      .queryName(s"graft-rules-${rules.map(_.name).mkString("+")}")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(0L))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (java.nio.file.Files.exists(stopM))
          throw new StreamIngest.GracefulStopException
        applyLock.synchronized {
          val (pausedNow, active) =
            tables.partition { case (r, _) => pauseRequested(r.tableDir) }
          pausedNow.foreach { case (r, _) => markCatchup(r.tableDir) }
          val shared = if (active.size > 1) batch.persist() else batch
          try active.foreach { case (rule, table) =>
            if (java.nio.file.Files.exists(catchupMarker(rule.tableDir))) {
              catchUp(rule, table)
              // the live batch is fully covered by the replay: fence it out
              // at the scan instead of re-merging it through LWW
              Ingest.applyBatch(table, shared, batchId,
                rule.cfg.copy(orderedDelivery = true))
            } else Ingest.applyBatch(table, shared, batchId, rule.cfg)
            foldOnCadence(table, rule.tableDir, rule.cfg, batchId)
          } finally {
            if (active.size > 1) { shared.unpersist(blocking = false); () }
          }
        }
        ()
      }
      .start()
    // Idle-stream fallback, two duties: (1) with no incoming data no batch
    // boundary fires, so the global stop marker alone would never be
    // observed; (2) a rule RESUMED while the stream is idle would wait
    // forever for a batch to run its catch-up — run it here instead, under
    // the same apply lock as the live path.
    val watcher = new Thread(() => {
      while (q.isActive) {
        if (java.nio.file.Files.exists(stopM) && !q.status.isTriggerActive) q.stop()
        else {
          tables.foreach { case (rule, table) =>
            if (!pauseRequested(rule.tableDir) &&
                java.nio.file.Files.exists(catchupMarker(rule.tableDir)))
              applyLock.synchronized {
                // re-check under the lock: a live batch may have just done it
                if (!pauseRequested(rule.tableDir) &&
                    java.nio.file.Files.exists(catchupMarker(rule.tableDir)))
                  catchUp(rule, table)
              }
          }
          Thread.sleep(250)
        }
      }
    }, s"graft-rules-stop-watch-${q.id}")
    watcher.setDaemon(true)
    watcher.start()
    try q.awaitTermination()
    catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException
        if isGracefulStop(e) => // clean boundary stop
    }
    finally {
      control.foreach(_.close())
      spark.streams.removeListener(listener)
      java.nio.file.Files.deleteIfExists(stopM)
      ()
    }
    rules.foreach(r => graft.ingest.MorFolds.drain(r.tableDir))
  }

  /** Default control dir for a [[tailRules]] pipeline (beside the Spark
    * checkpoint state; Spark ignores unknown entries there). */
  def rulesControlDir(checkpointDir: String): String =
    java.nio.file.Paths.get(checkpointDir, "_graftctl").toString

  /** Request a graceful stop of a [[tailRules]] pipeline. */
  def requestStopRules(checkpointDir: String, controlDir: Option[String] = None): Unit = {
    val ctl = java.nio.file.Paths.get(controlDir.getOrElse(rulesControlDir(checkpointDir)))
    java.nio.file.Files.createDirectories(ctl)
    java.nio.file.Files.writeString(ctl.resolve("stop"), java.time.Instant.now().toString)
    ()
  }

  private def stopMarker(tableDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(tableDir, "_control", "stop")

  private def pauseMarker(tableDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(tableDir, "_control", "pause")

  /** Whether a pause is currently requested for `tableDir` (the durable
    * marker [[requestPause]] writes and [[requestStart]] clears) — the
    * per-rule "stopped?" state the control plane reports. */
  def pauseRequested(tableDir: String): Boolean =
    java.nio.file.Files.exists(pauseMarker(tableDir))

  private def stateFile(tableDir: String): java.nio.file.Path =
    java.nio.file.Paths.get(tableDir, "_control", "state")

  /** Pause the tail at the next batch boundary WITHOUT ending the process:
    * [[tail]] keeps running, serves the control plane, and relaunches the
    * query from the same checkpoint when [[requestStart]] clears the marker.
    * The in-process analog of the reference's `/rules/{name}/stop`. */
  def requestPause(tableDir: String): Unit = {
    val m = pauseMarker(tableDir)
    java.nio.file.Files.createDirectories(m.getParent)
    java.nio.file.Files.writeString(m, java.time.Instant.now().toString)
  }

  /** Resume a paused tail (`/rules/{name}/start` analog): clears the pause
    * marker; the waiting [[tail]] loop relaunches from the same checkpoint,
    * so everything that arrived while paused is processed — nothing skipped
    * (stronger than the reference, whose stopped rules miss events). */
  def requestStart(tableDir: String): Unit = {
    java.nio.file.Files.deleteIfExists(pauseMarker(tableDir))
    ()
  }

  /** Request a graceful stop of the tail on `tableDir` — the file-based
    * analog of the reference's `/rules/{name}/stop` HTTP route
    * (/root/reference/rules/factory_http.go:10-25). The running query
    * finishes its in-flight micro-batch (commit included) and terminates;
    * `tail` with the same checkpoint resumes with nothing lost. */
  def requestStop(tableDir: String): Unit = {
    val m = stopMarker(tableDir)
    java.nio.file.Files.createDirectories(m.getParent)
    java.nio.file.Files.writeString(m, java.time.Instant.now().toString)
  }

  /** Thrown by foreachBatch at a batch boundary when a stop was requested:
    * the previous batch's commit is complete, the current batch has done no
    * work — the honest "finish in-flight, then stop" semantics (a raw
    * StreamingQuery.stop() would interrupt the micro-batch thread mid-commit
    * and rely on fencing to clean up the replay). */
  final class GracefulStopException
    extends RuntimeException("graceful stop requested at batch boundary")

  /** Same boundary semantics, but [[tail]] stays alive and waits for /start. */
  final class GracefulPauseException
    extends RuntimeException("graceful pause requested at batch boundary")

  private def isGracefulStop(e: Throwable): Boolean =
    e != null && (e.isInstanceOf[GracefulStopException] ||
      e.isInstanceOf[GracefulPauseException] || isGracefulStop(e.getCause))

  private def isGracefulPause(e: Throwable): Boolean =
    e != null && (e.isInstanceOf[GracefulPauseException] || isGracefulPause(e.getCause))

  /** Continuous tail with run-report listener, live HTTP control plane, and
    * graceful-stop control: progress JSONL lands in `<tableDir>/_progress/`,
    * a stop marker (written by [[requestStop]] / CLI `stop` / HTTP `/stop`)
    * ends the query at the next BATCH BOUNDARY — the in-flight micro-batch
    * always completes its commit; when the source is idle (no batch will
    * fire), a watcher stops the trigger loop directly once no trigger is
    * active. Blocks until stopped or failed. */
  def tail(
      spark: SparkSession,
      logDir: String,
      tableDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 8,
      cfg: IngestConfig = IngestConfig.streamingDefault,
      httpPort: Option[Int] = None): Unit = {
    val marker = stopMarker(tableDir)
    val pause = pauseMarker(tableDir)
    val state = stateFile(tableDir)
    // stale markers must not kill/pause a fresh run
    java.nio.file.Files.deleteIfExists(marker)
    java.nio.file.Files.deleteIfExists(pause)
    val listener = new ProgressListener(tableDir)
    spark.streams.addListener(listener)
    val control = httpPort.map { p =>
      val c = new ControlServer(tableDir, p)
      val bound = c.start()
      println(s"control plane on http://127.0.0.1:$bound " +
        "(/report /progress /stop /pause /start)")
      c
    }
    def writeState(s: String): Unit = {
      java.nio.file.Files.createDirectories(state.getParent)
      java.nio.file.Files.writeString(state, s)
    }
    try {
      // stop/start loop: /pause ends the query at a batch boundary but keeps
      // the process (and control plane) alive; /start relaunches from the
      // SAME checkpoint — lossless resume. /stop exits the loop.
      var done = false
      while (!done) {
        writeState("running")
        val q = start(spark, logDir, tableDir, checkpointDir, maxFilesPerTrigger,
          availableNow = false, cfg, stopMarkerAtBoundary = Some(marker),
          pauseMarkerAtBoundary = Some(pause))
        // Idle-stream fallback: with no incoming data no batch boundary
        // fires, so the markers alone would never be observed. Stop directly
        // — but ONLY when no trigger is active, so nothing in flight is
        // interrupted. The watcher RECORDS which marker it acted on: deciding
        // pause-vs-exit by re-probing the files after termination races a
        // /start that deletes the pause marker in that window — the tail
        // would exit entirely while the operator was told "start requested"
        // (round-4 ADVICE).
        val endCause = new java.util.concurrent.atomic.AtomicReference[String]("")
        val watcher = new Thread(() => {
          while (q.isActive) {
            val stopSeen = java.nio.file.Files.exists(marker)
            val pauseSeen = !stopSeen && java.nio.file.Files.exists(pause)
            if ((stopSeen || pauseSeen) && !q.status.isTriggerActive) {
              endCause.compareAndSet("", if (stopSeen) "stop" else "pause")
              q.stop()
            } else Thread.sleep(250)
          }
        }, s"graft-stop-watch-${q.id}")
        watcher.setDaemon(true)
        watcher.start()
        try q.awaitTermination()
        catch {
          case e: org.apache.spark.sql.streaming.StreamingQueryException
            if isGracefulStop(e) => // clean boundary stop/pause
            endCause.compareAndSet("", if (isGracefulPause(e)) "pause" else "stop")
        }
        if (endCause.get() != "pause") {
          done = true // stopped, or the query ended on its own
        } else {
          writeState("paused")
          while (java.nio.file.Files.exists(pause) && !java.nio.file.Files.exists(marker))
            Thread.sleep(250)
          if (java.nio.file.Files.exists(marker)) done = true
          // else: /start cleared the pause marker — loop relaunches
        }
      }
    } finally {
      control.foreach(_.close())
      spark.streams.removeListener(listener)
      java.nio.file.Files.deleteIfExists(marker)
      java.nio.file.Files.deleteIfExists(pause)
      java.nio.file.Files.deleteIfExists(state)
    }
    graft.ingest.MorFolds.drain(tableDir)
  }
}
