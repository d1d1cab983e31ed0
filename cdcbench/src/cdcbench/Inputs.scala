package cdcbench

import graft.gen.{ChangelogGen, GenConfig, Oracle}
import graft.log.ChangeLog
import org.apache.spark.sql.SparkSession

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.concurrent.ExecutionContext.Implicits.global

/** Input generation shared by the workloads. */
object Inputs {
  /** Writes events `[from, until)` of `cfg`'s log to `dir` as a changelog,
    * generating them once (cached for the writer's passes). */
  def writeLog(spark: SparkSession, cfg: GenConfig, dir: String, from: Long, until: Long,
      segmentsPerPartition: Int = 4): Unit = {
    import spark.implicits._
    val events = spark.range(from, until).map(seq => ChangelogGen.eventAt(cfg, seq)).cache()
    try ChangeLog.write(events, dir, segmentsPerPartition)
    finally { events.unpersist(); () }
  }

  /** Runs `write` while another thread of this JVM folds the oracle over
    * the whole log beside it; returns the oracle state and the fold's
    * seconds. */
  def withOracle(cfg: GenConfig)(write: => Unit): (Oracle.State, Double) = {
    val oracle = Future {
      val t0 = System.nanoTime()
      val st = OracleCheck.fold(cfg, 0L, cfg.nEvents, Oracle.State())
      (st, Metrics.secondsSince(t0))
    }
    write
    Await.result(oracle, Duration.Inf)
  }
}
