package graft

import java.lang.reflect.Modifier
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Every main the docs tell a reader to run (`runMain graft.X`,
  * `tools/jrun.sh graft.X`) exists and has a static `main`, so a retired
  * main cannot stay cited. */
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
}
