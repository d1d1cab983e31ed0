package cdcbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}

/** Command-line options of one benchmark run (see `cdcbench/run.py`). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, smoke: Boolean) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

/** What a workload runs against: the session, the options, the metrics
  * being collected and, in the traced run, the ledger. */
final case class Ctx(spark: SparkSession, o: Opts, m: Metrics, ledger: Option[Ledger])

/** One workload: set up inputs (repeatable, so set-up time is a median),
  * measure for the window, then check the outputs against the oracle. */
trait Workload {
  /** How many times set-up runs; `setup_s` is the median. */
  def setupReps: Int = 2
  /** Builds fresh inputs under `dir`; the last call's inputs are measured. */
  def setup(dir: Path): Unit
  /** Runs the timed operations until `deadlineNs` (plus any minimum the
    * workload needs); returns the number of headline operations, the
    * divisor of the traced per-layer totals. */
  def measure(deadlineNs: Long): Double
  /** Oracle checks and the reported metrics, outside the timed window. */
  def finish(): Unit
}

object RunMain {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = kv.get("trace").contains("1"),
      work = Paths.get(need("work")).toAbsolutePath,
      smoke = kv.get("smoke").contains("1"))
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"cdcbench-${o.workload}")
      // the same session shape as graft.Bench
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "33554432")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val m = new Metrics
    val spark = session(o)
    // JVM start to a ready session: paid once per process
    val sessionS = Metrics.uptimeS
    val ledger = if (o.trace) Some(new Ledger) else None
    val c = Ctx(spark, o, m, ledger)
    val w: Workload = o.workload match {
      case "replay_bulk" => new ReplayBulk(c)
      case "live_tail" => new LiveTail(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = (1 to w.setupReps).map { i =>
      val t0 = System.nanoTime()
      w.setup(o.work.resolve(s"setup-$i"))
      val s = Metrics.secondsSince(t0)
      deleteTree(o.work.resolve(s"setup-${i - 1}"))
      s
    }
    m.put("setup_s", sessionS + Metrics.median(setupS), "s")
    m.note(f"set-up: session $sessionS%.2f s, set-ups ${setupS.map(x => f"$x%.2f").mkString(" / ")} s")

    ledger.foreach(_.register(spark))
    val t0 = System.nanoTime()
    val ops = w.measure(t0 + (o.seconds * 1e9).toLong)
    m.note(f"window ${Metrics.secondsSince(t0)}%.2f s, $ops%.0f headline operations")
    ledger.foreach { l =>
      settleListeners(spark)
      l.report(m, math.max(1.0, ops))
      l.reportBatches(m, math.max(1.0, ops))
      m.note("jobs by layer: " + l.jobsByLayer().map { case (k, v) => s"$k=$v" }.mkString(" "))
      l.unregister(spark)
    }
    w.finish()
    if (o.trace) {
      // tracing overhead: this value against the untraced run's latency_p50_ms
      m.get("latency_p50_ms").foreach(m.put("trace.latency_p50_ms", _, "ms"))
      PerLayer.fillAbsent(m)
    }
    m.put("rss_peak_mb", Metrics.rssPeakMb(), "MB")
    println("CDCBENCH_RESULT " + m.toJson)
    spark.stop()
    deleteTree(o.work)
  }

  /** Lets the asynchronous listener bus deliver the window's last events. */
  private def settleListeners(spark: SparkSession): Unit = {
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 5000000000L
    while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(300)
  }

  def deleteTree(p: Path): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
    ()
  }

  /** Runs `f` with the `cdcbench.call` property naming the engine entry point
    * whose frame the benchmark's action evaluates. */
  def calling[T](spark: SparkSession, layer: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Layers.CallProperty)
    sc.setLocalProperty(Layers.CallProperty, layer)
    try f finally sc.setLocalProperty(Layers.CallProperty, prev)
  }
}
