package cdcbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Per-layer accounting from outside the engine: a SparkListener credits
  * every job and its stages' task metrics to a layer (see [[Layers]]), a
  * QueryExecutionListener sums planning time, and a StreamingQueryListener
  * records micro-batch durations. Registered only by the traced run. */
final class Ledger extends SparkListener {
  import Ledger.{Batch, Job}
  final class Acc {
    var jobs = 0L; var jobMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var input = 0L; var output = 0L; var spill = 0L
  }

  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val execSites = mutable.HashMap.empty[Long, String]
  private val acc = mutable.HashMap.empty[String, Acc]
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private var stages = 0L
  private var planMs = 0.0

  private def accOf(layer: String): Acc = acc.getOrElseUpdate(layer, new Acc)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSites(s.executionId) = s.details
      if (execSites.size > 100000) execSites.clear()
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String): Option[String] = props.flatMap(p => Option(p.getProperty(k)))
    // the result stage (highest id) is named after the job's call site
    val result = e.stageInfos.maxByOption(_.stageId)
    val exec = prop("spark.sql.execution.id").flatMap(_.toLongOption).flatMap(execSites.get)
    val files = Layers.shortFile(result.map(_.name).orNull).iterator.filter(_.endsWith(".scala")) ++
      Layers.frameFiles(result.map(_.details).orNull) ++ Layers.frameFiles(exec.orNull)
    val layer = Layers.attribute(files, prop(Layers.CallProperty))
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    jobs(e.jobId) = Job(layer, e.time, -1L, prop("sql.streaming.queryId").orNull,
      prop("streaming.sql.batchId").flatMap(_.toLongOption).getOrElse(-1L))
    accOf(layer).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      accOf(j.layer).jobMs += math.max(0L, e.time - j.start)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val info = e.stageInfo
    val layer = stageJob.get(info.stageId).flatMap(jobs.get).map(_.layer)
      .getOrElse(Layers.Unattributed)
    val m = info.taskMetrics
    if (m != null) {
      val a = accOf(layer)
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      addPlan(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      addPlan(qe)
  }

  private def addPlan(qe: QueryExecution): Unit = Ledger.this.synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      Ledger.this.synchronized {
        batches += Batch(p.id.toString, p.batchId, p.numInputRows,
          d("triggerExecution"), d("addBatch"))
      }
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Union length (ms) of the job intervals that overlap [from, to]. */
  def jobUnionMs(from: Long, to: Long): Long = synchronized {
    Ledger.unionMs(jobs.values.filter(j => j.end >= from && j.start <= to)
      .map(j => (math.max(j.start, from), math.min(j.end, to))).toSeq)
  }

  /** Micro-batches seen so far, with each batch's job union (ms) and jobs. */
  def batchStats(): Seq[(Batch, Long, Int)] = synchronized {
    val byBatch = jobs.values.filter(_.query != null).groupBy(j => (j.query, j.batch))
    batches.toSeq.map { b =>
      val js = byBatch.getOrElse((b.query, b.batchId), Nil).toSeq
      (b, Ledger.unionMs(js.filter(_.end >= 0).map(j => (j.start, j.end))), js.size)
    }
  }

  /** Per-layer job metrics plus the whole-run totals, `scale` dividing the
    * additive ones (per headline operation). */
  def report(m: Metrics, scale: Double): Unit = synchronized {
    val all = acc.values
    val totalJobs = all.map(_.jobs).sum
    m.put("spark.jobs", totalJobs / scale, "count")
    m.put("spark.stages", stages / scale, "count")
    m.put("spark.task_cpu_s", all.map(_.cpuNs).sum / 1e9 / scale, "s")
    m.put("spark.gc_s", all.map(_.gcMs).sum / 1e3 / scale, "s")
    m.put("spark.shuffle_write_bytes", all.map(_.shuffleWrite).sum / scale, "B")
    m.put("spark.input_bytes", all.map(_.input).sum / scale, "B")
    m.put("spark.output_bytes", all.map(_.output).sum / scale, "B")
    m.put("spark.spill_bytes", all.map(_.spill).sum / scale, "B")
    m.put("spark.plan_ms", planMs / scale, "ms")
    m.put("spark.unattributed_job_share",
      if (totalJobs == 0) 0.0
      else acc.get(Layers.Unattributed).map(_.jobs).getOrElse(0L).toDouble / totalJobs, "ratio")
    Layers.reported.foreach { l =>
      val a = acc.getOrElse(l, new Acc)
      m.put(s"$l.jobs", a.jobs / scale, "count")
      m.put(s"$l.job_s", a.jobMs / 1e3 / scale, "s")
      m.put(s"$l.task_cpu_s", a.cpuNs / 1e9 / scale, "s")
      m.put(s"$l.shuffle_write_bytes", a.shuffleWrite / scale, "B")
      m.put(s"$l.output_bytes", a.output / scale, "B")
    }
  }

  /** Micro-batch metrics of the window's streaming queries. */
  def reportBatches(m: Metrics, scale: Double): Unit = {
    val bs = batchStats().filter(_._1.rows > 0)
    def p50(f: ((Batch, Long, Int)) => Double): Double =
      if (bs.isEmpty) 0.0 else Metrics.median(bs.map(f))
    m.put("streaming.batches", bs.size / scale, "count")
    m.put("streaming.trigger_ms_p50", p50(_._1.triggerMs.toDouble), "ms")
    m.put("streaming.addBatch_ms_p50", p50(_._1.addBatchMs.toDouble), "ms")
    m.put("streaming.overhead_ms_p50", p50(b => (b._1.triggerMs - b._1.addBatchMs).toDouble), "ms")
    m.put("streaming.driver_ms_p50", p50(b => math.max(0L, b._1.addBatchMs - b._2).toDouble), "ms")
    m.put("streaming.jobs_per_batch", if (bs.isEmpty) 0.0 else bs.map(_._3).sum.toDouble / bs.size, "count")
    m.put("streaming.rows_per_batch_p50", p50(_._1.rows.toDouble), "count")
  }

  /** Jobs per layer, for the human-readable report. */
  def jobsByLayer(): Seq[(String, Long)] = synchronized {
    acc.toSeq.map { case (l, a) => l -> a.jobs }.sortBy(-_._2)
  }
}

object Ledger {
  private final case class Job(layer: String, start: Long, var end: Long,
      query: String, batch: Long)
  final case class Batch(query: String, batchId: Long, rows: Long,
      triggerMs: Long, addBatchMs: Long)

  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
