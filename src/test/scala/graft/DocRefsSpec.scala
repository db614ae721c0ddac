package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Every `runMain graft.X` the docs tell a reader to run must name a
  * main that exists, so a deleted or renamed main cannot leave a dead
  * recipe behind. Needs no Spark: it only loads classes.
  */
class DocRefsSpec extends AnyFunSuite {

  private val docs = Seq("README.md", ".claude/skills/verify/SKILL.md")
  private val RunMain = """runMain\s+graft\.([A-Za-z_][A-Za-z0-9_]*)""".r

  test("every runMain graft.X in README.md and the verify skill names a main") {
    val refs = docs.flatMap { d =>
      val text = Files.readString(Paths.get(d))
      RunMain.findAllMatchIn(text).map(m => d -> m.group(1)).toSeq
    }.distinct
    assert(refs.exists(_._2 == "Verify"), s"expected a runMain graft.Verify recipe, found $refs")
    val broken = refs.filterNot { case (_, name) =>
      try {
        Class.forName(s"graft.$name$$", false, getClass.getClassLoader)
          .getMethod("main", classOf[Array[String]])
        true
      } catch { case _: ClassNotFoundException | _: NoSuchMethodException => false }
    }
    assert(broken.isEmpty, s"docs name mains that do not exist: $broken")
  }
}
