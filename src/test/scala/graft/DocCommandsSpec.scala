package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Every main the docs tell a reader to run (`runMain graft.X`,
  * `tools/jrun.sh graft.X`) exists and has a static `main`, so a retired
  * main cannot stay cited; and README's Environment table lists exactly the
  * `GRAFT_*` knobs `Main.cliConfig` reads, so a deleted knob cannot keep a
  * row. */
class DocCommandsSpec extends AnyFunSuite {
  private val docs = Seq("README.md", "BENCH/BASELINE.md", ".claude/skills/verify/SKILL.md")
  private val command = """(?:runMain|tools/jrun\.sh)\s+(graft(?:\.\w+)+)""".r

  test("every main cited in the docs loads and has a static main") {
    val cited = docs.flatMap { doc =>
      val p = Paths.get(doc)
      assert(Files.isRegularFile(p), s"$doc not found from ${Paths.get("").toAbsolutePath}")
      command.findAllMatchIn(Files.readString(p)).map(m => doc -> m.group(1))
    }.distinct
    assert(cited.map(_._2).toSet.contains("graft.app.Main"))
    assert(cited.map(_._2).toSet.contains("graft.Diag"))
    cited.foreach { case (doc, name) =>
      val cls = try Class.forName(name, false, getClass.getClassLoader) catch {
        case _: ClassNotFoundException => fail(s"$doc cites $name, which does not exist")
      }
      val main = try cls.getMethod("main", classOf[Array[String]]) catch {
        case _: NoSuchMethodException => fail(s"$doc cites $name, which has no main")
      }
      assert(Modifier.isStatic(main.getModifiers), s"$doc cites $name, whose main is not static")
    }
  }

  test("README's Environment table lists exactly the GRAFT_* names Main.cliConfig reads") {
    // an environment that records every name looked up and holds none
    val looked = scala.collection.mutable.Set.empty[String]
    val env = new scala.collection.immutable.AbstractMap[String, String] {
      def get(key: String): Option[String] = { looked += key; None }
      def iterator: Iterator[(String, String)] = Iterator.empty
      def removed(key: String): Map[String, String] = this
      def updated[V >: String](key: String, value: V): Map[String, V] = Map(key -> value)
    }
    graft.app.Main.cliConfig(env)
    val read = looked.filter(_.startsWith("GRAFT_")).toSet
    assert(read.contains("GRAFT_MOR"))

    val readme = Files.readString(Paths.get("README.md"))
    val section = readme.split("\n## ").find(_.startsWith("Environment"))
      .getOrElse(fail("README has no Environment section"))
    val rows = section.linesIterator.filter(_.startsWith("| `")).map { line =>
      val cells = line.split('|').map(_.trim).filter(_.nonEmpty)
      (cells.head.stripPrefix("`").stripSuffix("`"), cells.last)
    }.toSeq
    assert(read -- rows.map(_._1) === Set.empty,
      "GRAFT_* names Main.cliConfig reads with no row in README's Environment table")
    assert(rows.collect { case (name, readBy) if readBy.contains("Main.cliConfig") => name }
      .toSet -- read === Set.empty,
      "README Environment rows naming Main.cliConfig for a name it does not read")
  }
}
