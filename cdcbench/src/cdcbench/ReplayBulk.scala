package cdcbench

import graft.Bench
import graft.gen.{ChangelogGen, GenConfig}
import graft.ingest.Ingest
import graft.lake.LakeTable
import graft.log.ChangeLog
import graft.operators.SigStore
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** `Ingest.replayLog` (the `replay` CLI) of a seeded log in the
  * `Bench.cdcGenConfig` shape into a fresh 64-bucket table, repeated: the
  * first replay is the cold one a one-shot CLI pays; the median of the rest
  * is the warm cost. Keyed lookups on the result are checked against the
  * oracle. */
final class ReplayBulk(c: Ctx) extends Workload {
  import c.{m, o, spark}
  /** Events in the log: the `Bench` shape (about 30 writes per key, Zipf-3
    * hot repos, 4 in-log DDLs) at 1/10 of its sf0.1 size. */
  private val nEvents: Long = if (o.smoke) 20000L else 200000L
  private val cfg: GenConfig =
    Bench.cdcGenConfig(s"sf${nEvents / 2e7}", nPartitions = 16).copy(seed = o.seed)
  private val lookups = 8

  private var dir: Path = _
  private var logDir: String = _
  private var want: Map[OracleCheck.Key, String] = Map.empty
  private val oracleS = mutable.ArrayBuffer.empty[Double]
  private val readMs = mutable.ArrayBuffer.empty[Double]
  private val rng = new java.util.Random(o.seed * 31 + 7)
  private var tableSeq = 0

  def setup(d: Path): Unit = {
    dir = d
    Files.createDirectories(d)
    logDir = d.resolve("log").toString
    val (w, s) = Inputs.withOracle(cfg)(Inputs.writeLog(spark, cfg, logDir, 0L, cfg.nEvents))
    want = OracleCheck.expected(w)
    oracleS += s
  }

  private def freshTable(): String = {
    tableSeq += 1
    val t = dir.resolve(s"table-$tableSeq").toString
    LakeTable.create(spark, t, numBuckets = 64)
    t
  }

  /** A key drawn with the log's own skew (a random event's key). */
  private def drawKey(): OracleCheck.Key = {
    var e = ChangelogGen.eventAt(cfg, (rng.nextDouble() * cfg.nEvents).toLong)
    while (e.repo == null) e = ChangelogGen.eventAt(cfg, (rng.nextDouble() * cfg.nEvents).toLong)
    (e.repo, e.path)
  }

  /** Keyed lookups through the public read path, each checked against the
    * oracle; `table` holds the final state of the whole log. */
  private def lookup(tableDir: String): Unit = {
    val (repo, path) = drawKey()
    val t0 = System.nanoTime()
    val got = m.op("keyed read") {
      RunMain.calling(spark, "lake.LakeTable") {
        OracleCheck.rows(LakeTable.load(spark, tableDir).read()
          .filter(col("repo") === repo && col("path") === path))
      }
    }
    got.foreach { rows =>
      readMs += Metrics.secondsSince(t0) * 1e3
      val exp = want.get((repo, path)).map(h => (repo, path, h)).toSeq
      m.check("keyed read", rows == exp, s"key=($repo,$path) got=${rows.size} rows")
    }
  }

  /** Shape of a final table: files, delta files, bytes, snapshots. */
  private def tableShape(tableDir: String): Unit = {
    val s = LakeTable.load(spark, tableDir).snapshot
    val bytes = org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(tableDir)).toDouble
    m.put("lake.files", s.files.size, "count")
    m.put("lake.delta_files", s.deltaFiles.size, "count")
    m.put("lake.table_bytes", bytes, "B")
    m.put("lake.snapshots", (s.version + 1).toDouble, "count")
    m.put("lake.bytes_written_per_event", bytes / cfg.nEvents, "B")
  }


  private var cold = Double.NaN
  private val warmMs = mutable.ArrayBuffer.empty[Double]
  private val driverS = mutable.ArrayBuffer.empty[Double]
  private var last: String = _
  private var buildS = Double.NaN

  /** Replays for two thirds of the window (at least a cold and three warm
    * ones), then keyed reads on the last replayed table and a near-duplicate
    * signature store built from it. */
  def measure(deadlineNs: Long): Double = {
    val replayEnd = deadlineNs - (o.seconds * 1e9 / 3).toLong
    var i = 0
    while (i < 4 || System.nanoTime() < replayEnd) {
      val t = freshTable()
      val startMs = Metrics.nowMs
      val t0 = System.nanoTime()
      val ok = m.op("replay") {
        Ingest.replayLog(LakeTable.load(spark, t), ChangeLog.readDF(spark, logDir))
      }.isDefined
      val wall = Metrics.secondsSince(t0)
      if (ok) {
        if (i == 0) cold = wall
        else {
          warmMs += wall * 1e3
          c.ledger.foreach(l => driverS += wall - l.jobUnionMs(startMs, Metrics.nowMs) / 1e3)
        }
      }
      if (last != null) RunMain.deleteTree(java.nio.file.Paths.get(last))
      last = t
      i += 1
    }
    (1 to lookups).foreach(_ => lookup(last))
    // per-layer only: the traced run reaches the operators layer
    if (o.trace) signatures(last)
    i.toDouble
  }

  /** The operators layer on the replayed table: a near-duplicate signature
    * store built from its rows by `SigStore.appendUpserts` (the parameters
    * of `dedup_incremental`). */
  private def signatures(tableDir: String): Unit = {
    val rows = LakeTable.load(spark, tableDir).read()
    val store = dir.resolve("sigstore").toString
    val t0 = System.nanoTime()
    m.op("signature store build") {
      SigStore.appendUpserts(store, rows, concat_ws("/", col("repo"), col("path")), col("content"),
        lit(1L), SigStore.Config(shingleLen = 3, bands = 4, rowsPerBand = 4))
    }.foreach(_ => buildS = Metrics.secondsSince(t0))
    RunMain.deleteTree(java.nio.file.Paths.get(store))
  }

  def finish(): Unit = {
    val warm = Metrics.median(warmMs.toSeq)
    m.put("first_pass_s", cold, "s")
    m.put("latency_p50_ms", warm, "ms")
    m.put("read_p50_ms", Metrics.median(readMs.toSeq), "ms")
    m.put("gen.oracle_s", Metrics.median(oracleS.toSeq), "s")
    m.put("ingest.replayLog_s", warm / 1e3, "s")
    if (o.trace) m.put("operators.sigstore_build_s", buildS, "s")
    if (driverS.nonEmpty) m.put("ingest.replayLog_driver_s", Metrics.median(driverS.toSeq), "s")
    m.note(f"samples: ${warmMs.size} warm replays (${warmMs.map(_.round).mkString(", ")} ms), " +
      f"${readMs.size} reads; replay_cold_s=$cold%.3f " +
      f"replay_events_per_s=${cfg.nEvents / (warm / 1e3)}%.0f")
    tableShape(last)
    RunMain.calling(spark, "bench.oracle") {
      OracleCheck.verify(m, "replay table", LakeTable.load(spark, last).read(), want, o.smoke)
    }
  }
}
