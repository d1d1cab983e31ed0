package graft.streaming

import graft.lake.Json
import org.apache.spark.sql.streaming.StreamingQueryListener
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** Run-report listener — the Spark-native replacement for the reference's
  * HTTP `/rules/report` plane (/root/reference/rules/factory_http.go:50-89,
  * cobra/handler_http.go:10-50): every micro-batch's progress (rows, offsets,
  * durations) is appended as JSONL under `<tableDir>/_progress/` of every
  * table the pipeline writes, alongside the engine's own `_lineage`.
  * `graft.app.Main report <tableDir>` reads it back.
  *
  * Progress lines are observability metadata (at-least-once on retries, like
  * Spark's own progress log) — exactly-once truth lives in the snapshot
  * fence/lineage.
  */
class ProgressListener(tableDirs: Seq[String]) extends StreamingQueryListener {
  private val files = tableDirs.map(ProgressListener.file)

  private def append(line: String): Unit = synchronized {
    files.foreach { file =>
      Files.createDirectories(file.getParent)
      Files.writeString(file, line + "\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    append(s"""{"event":"started","id":"${e.id}","runId":"${e.runId}","ts":"${e.timestamp}"}""")

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    append(e.progress.json)

  /** A boundary stop is not a failure: its record carries `"exception":null`.
    * A real failure's text (a multi-line stack trace) is JSON-quoted, so the
    * record stays one line. */
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
    val failure = e.exception.filterNot(_.contains(classOf[StreamIngest.GracefulStopException].getName))
    append(s"""{"event":"terminated","id":"${e.id}","runId":"${e.runId}",""" +
      s""""exception":${Json.quote(failure.map(_.take(300)).orNull)}}""")
  }
}

object ProgressListener {
  /** The run-report JSONL of the table at `tableDir`. */
  def file(tableDir: String): Path = Paths.get(tableDir, "_progress", "progress.jsonl")
}
