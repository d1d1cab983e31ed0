package cdcbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** What one run reports: named metrics with units, operation counts and the
  * verdict of the output checks. Printed as one JSON line for `run.py`. */
final class Metrics {
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val notes = mutable.ArrayBuffer.empty[String]
  private var attemptedOps = 0L
  private var failedOps = 0L
  private var checksOk = true

  def put(name: String, value: Double, unit: String): Unit = synchronized {
    values(name) = (value, unit)
  }

  def get(name: String): Option[Double] = synchronized(values.get(name).map(_._1))

  def note(s: String): Unit = synchronized {
    notes += s
    System.err.println(f"[cdcbench ${Metrics.uptimeS}%.1f s] $s")
  }

  /** Counts one operation; a throw counts as failed, never as a fast time. */
  def op[T](what: String)(f: => T): Option[T] = {
    synchronized { attemptedOps += 1 }
    try Some(f)
    catch {
      case NonFatal(e) =>
        synchronized { failedOps += 1 }
        note(s"$what failed: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** Counts `n` operations attempted, `bad` of them failed. */
  def count(n: Long, bad: Long): Unit = synchronized { attemptedOps += n; failedOps += bad }

  /** Records an output check; a mismatch counts as a failed operation. */
  def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    synchronized {
      attemptedOps += 1
      if (!ok) { failedOps += 1; checksOk = false }
    }
    if (!ok) note(s"check failed: $what $detail")
  }

  def attempted: Long = synchronized(attemptedOps)
  def failed: Long = synchronized(failedOps)
  def correct: Boolean = synchronized(checksOk && failedOps == 0)

  def toJson: String = synchronized {
    val ms = values.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
      s""""${Metrics.esc(k)}":{"value":$num,"unit":"${Metrics.esc(u)}"}"""
    }.mkString(",")
    val ns = notes.map(n => "\"" + Metrics.esc(n) + "\"").mkString(",")
    s"""{"correct":$correct,"attempted":$attemptedOps,"failed":$failedOps,"metrics":{$ms},"notes":[$ns]}"""
  }
}

object Metrics {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Linear-interpolated quantile (q in [0, 1]); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A p90 is reported only over at least 100 samples. */
  def p90(xs: Seq[Double]): Double = if (xs.size >= 100) quantile(xs, 0.9) else Double.NaN

  def nowMs: Long = System.currentTimeMillis()

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  /** Seconds since the JVM started. */
  def uptimeS: Double = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  /** Peak resident set size of this process (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }
}
