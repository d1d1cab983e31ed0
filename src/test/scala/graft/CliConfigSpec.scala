package graft

import graft.app.Main
import graft.ingest.Ingest.IngestConfig
import org.scalatest.funsuite.AnyFunSuite

/** The CLI's environment-to-config mapping (`Main.cliConfig`), without a
  * Spark session. */
class CliConfigSpec extends AnyFunSuite {
  private def cfg(env: (String, String)*) = Main.cliConfig(env.toMap)

  test("an empty environment gives the streaming default and an ephemeral port") {
    val c = cfg()
    assert(c.streaming === IngestConfig.streamingDefault)
    assert(c.streaming.morMode)
    assert(c.httpPort === 0)
    // FilterChain has no value equality: compare the rest
    val replay = c.replay
    assert(replay === IngestConfig(orderedDelivery = true).copy(filter = replay.filter))
  }

  test("GRAFT_MOR=0 and GRAFT_MOR=false opt into copy-on-write; other values keep MOR") {
    assert(!cfg("GRAFT_MOR" -> "0").streaming.morMode)
    assert(!cfg("GRAFT_MOR" -> "false").streaming.morMode)
    assert(cfg("GRAFT_MOR" -> "1").streaming.morMode)
    assert(cfg("GRAFT_MOR" -> "0").streaming.copy(morMode = true) === IngestConfig.streamingDefault)
  }

  test("fold cadence and fold threshold map to their fields") {
    val c = cfg("GRAFT_MOR_FOLD_EVERY" -> "7", "GRAFT_MOR_FOLD_MIN_PER_BUCKET" -> "0").streaming
    assert(c.morFoldEvery === 7)
    assert(c.morFoldMinEventsPerBucket === 0L)
  }

  test("GRAFT_SIGSTORE reaches streaming and replay; empty means none") {
    val c = cfg("GRAFT_SIGSTORE" -> "/data/sigs", "GRAFT_HTTP_PORT" -> "8099")
    assert(c.streaming.sigStoreDir === Some("/data/sigs"))
    assert(c.replay.sigStoreDir === Some("/data/sigs"))
    assert(c.replay.orderedDelivery)
    assert(c.httpPort === 8099)
    val empty = cfg("GRAFT_SIGSTORE" -> "")
    assert(empty.streaming.sigStoreDir === None)
    assert(empty.replay.sigStoreDir === None)
  }

  test("tailrules rule specs: malformed specs and duplicate names are rejected before any table exists") {
    assert(Main.ruleSpecs(Seq("a=/t/a", "b=/t/b=x")) === Right(Seq("a" -> "/t/a", "b" -> "/t/b=x")))
    assert(Main.ruleSpecs(Nil).isLeft)
    Seq("a", "=/t/a", "a=", "").foreach(bad =>
      assert(Main.ruleSpecs(Seq("ok=/t/ok", bad)).left.exists(_.contains(s"'$bad'")), bad))
    assert(Main.ruleSpecs(Seq("a=/t/1", "b=/t/2", "a=/t/3")) === Left("duplicate rule name 'a'"))
  }

  test("tailrules rule specs: two rules on one table dir are rejected, however the dir is spelled") {
    assert(Main.ruleSpecs(Seq("a=/t/x", "b=/t/y/../x/")) === Left("two rules share table dir /t/x"))
    val here = java.nio.file.Paths.get("rel").toAbsolutePath.normalize
    assert(Main.ruleSpecs(Seq("a=rel", s"b=$here")) === Left(s"two rules share table dir $here"))
    assert(Main.ruleSpecs(Seq("a=/t/x", "b=/t/xy")).isRight)
  }

  test("tailrules with GRAFT_SIGSTORE takes one rule: more would append to one store") {
    val sigs = Some("/data/sigs")
    assert(Main.ruleSpecs(Seq("a=/t/a"), sigs) === Right(Seq("a" -> "/t/a")))
    assert(Main.ruleSpecs(Seq("a=/t/a", "b=/t/b"), sigs).left.exists(_.contains("GRAFT_SIGSTORE")))
    assert(Main.ruleSpecs(Seq("a=/t/a", "b=/t/b")).isRight)
  }
}
