package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

/** The scripts and docs that tell someone to run a graft main or a tools/
  * script must name one that exists: a deleted probe must not leave a dead
  * command behind.
  */
class ToolNamesSpec extends AnyFunSuite {

  private val tools: Seq[Path] = {
    val files = Files.list(Paths.get("tools"))
    try files.iterator.asScala.toSeq.sorted
    finally files.close()
  }
  private val notes = Seq(Paths.get("README.md"), Paths.get(".claude/skills/verify/SKILL.md"))
  private val docs: Seq[Path] = tools.filter(_.toString.endsWith(".sh")) ++ notes

  /** Every `runMain <class>` target and every `graft.tools.<Name>`. */
  private val Named = """runMain\s+([\w.]+)|\b(graft\.tools\.\w+)""".r

  /** A repo-relative `tools/<file>` path; `src/.../graft/tools/X` is not one. */
  private val ToolPath = """(?<![\w/])tools/[\w-]+(?:\.[\w-]+)*""".r

  private def isMain(name: String): Boolean =
    Try(Class.forName(name + "$").getMethod("main", classOf[Array[String]])).isSuccess

  test("every graft main named by tools/*.sh, README.md and the verify skill exists") {
    val named = for {
      doc <- docs
      m <- Named.findAllMatchIn(Files.readString(doc))
    } yield doc -> Option(m.group(1)).getOrElse(m.group(2))
    assert(named.exists(_._2 == "graft.tools.ProfJobs"), s"scanned: $named")
    val dead = named.filterNot { case (_, name) => isMain(name) }
    assert(dead.isEmpty, s"commands naming no main: $dead")
  }

  test("every tools/<file> path named by tools/*, README.md and the verify skill exists") {
    val named = for {
      doc <- tools ++ notes
      path <- ToolPath.findAllIn(Files.readString(doc))
    } yield doc -> path
    assert(named.exists(_._2 == "tools/check_oracle.py"), s"scanned: $named")
    val dead = named.filterNot { case (_, path) => Files.exists(Paths.get(path)) }
    assert(dead.isEmpty, s"paths naming no file: $dead")
  }
}
