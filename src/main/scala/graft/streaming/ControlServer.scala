package graft.streaming

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.lake.{Json, LakeTable}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Live HTTP control plane of a running [[StreamIngest]] pipeline — the
  * reference's operator surface (reference rules/factory_http.go:10-89,
  * cobra/cobra_http.go:50-61, cobra/handler_http.go:10-50) re-expressed over
  * the durable per-rule markers and snapshots:
  *
  *   GET  /rules                — [{"name","state","tableDir"}]; state is the
  *                                REQUESTED one ("paused" iff the rule's pause
  *                                marker exists)
  *   GET  /rules/{name}/report  — that rule's table snapshot JSON: version,
  *                                schema log, manifest-list pointer, offset
  *                                fence, gtid (maxSeq), cumulative metrics
  *   POST /rules/{name}/pause   — stop applying ONE rule at the next batch
  *                                boundary; the stream and the other rules
  *                                keep consuming
  *   POST /rules/{name}/start   — lossless resume (catch-up replay from the
  *                                rule's own offset fence, then rejoin live)
  *   GET  /rules/{name}/state   — the driver's OBSERVED state: "paused" only
  *                                once it has stopped applying the rule
  *   GET  /progress             — tail of the first rule's run-report JSONL,
  *                                as an array
  *   POST /stop                 — graceful stop of the whole pipeline
  *
  * With one rule, `/report`, `/pause`, `/start` and `/state` are that rule's
  * routes.
  *
  * Driver-side only, loopback; state comes from files on disk, so serving a
  * request costs no Spark job. Mutations are POST-only: a GET would let any
  * local page drive the pipeline via a cross-origin request to 127.0.0.1.
  */
final class ControlServer(rules: Seq[StreamIngest.Rule], progress: Path, stop: () => Unit,
    pausedNow: String => Boolean, requestedPort: Int) extends AutoCloseable {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", requestedPort), 0)
  server.setExecutor(null) // single-threaded default executor: metadata-only replies

  private def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, bytes.length.toLong)
    val os = x.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Messages (Spark/IO errors, request paths) routinely carry quotes and
    * newlines: quoted, or the operator surface serves invalid JSON. */
  private def error(msg: String): String = Json.obj("error" -> Json.quote(msg))

  private def mutate(x: HttpExchange, what: String, rule: Option[StreamIngest.Rule])(
      action: => Unit): Unit =
    if (x.getRequestMethod != "POST") respond(x, 405, error("use POST"))
    else {
      action
      respond(x, 200, Json.obj(rule.map(r => "rule" -> Json.quote(r.name)).toSeq :+
        (what -> Json.quote("requested")): _*))
    }

  private def ruleRoute(x: HttpExchange, rule: StreamIngest.Rule, action: String): Unit =
    action match {
      case "report" => respond(x, 200, LakeTable.peekSnapshot(rule.tableDir)
        .map(_.toJson).getOrElse(error("not a LakeTable")))
      case "pause" => mutate(x, "pause", Some(rule))(StreamIngest.requestPause(rule.tableDir))
      case "start" => mutate(x, "start", Some(rule))(StreamIngest.requestStart(rule.tableDir))
      case "state" => respond(x, 200,
        Json.obj("state" -> Json.quote(if (pausedNow(rule.name)) "paused" else "running")))
      case _ => respond(x, 404, error(s"unknown action: $action"))
    }

  server.createContext("/", (x: HttpExchange) =>
    try x.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList match {
      case List("rules") => respond(x, 200, rules.map(r => Json.obj(
        "name" -> Json.quote(r.name),
        "state" -> Json.quote(if (StreamIngest.pauseRequested(r.tableDir)) "paused" else "running"),
        "tableDir" -> Json.quote(r.tableDir))).mkString("[", ",", "]"))
      case List("rules", name, action) => rules.find(_.name == name) match {
        case Some(r) => ruleRoute(x, r, action)
        case None => respond(x, 404, error(s"no such rule: $name"))
      }
      case List("progress") =>
        val lines = if (Files.exists(progress)) Files.readAllLines(progress).asScala.takeRight(50) else Nil
        respond(x, 200, lines.mkString("[", ",\n", "]"))
      case List("stop") => mutate(x, "stop", None)(stop())
      case List(action) if rules.size == 1 => ruleRoute(x, rules.head, action)
      case _ => respond(x, 404, error(s"unknown route: ${x.getRequestURI.getPath}"))
    } catch { case e: Exception => respond(x, 500, error(String.valueOf(e.getMessage))) })
  server.start()

  /** The bound port (ephemeral when 0 was requested). */
  val port: Int = server.getAddress.getPort

  override def close(): Unit = server.stop(0)
}
