package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

/** The scripts and docs that tell someone to run a graft main must name one
  * that exists: a deleted probe must not leave a dead command behind.
  */
class ToolNamesSpec extends AnyFunSuite {

  private val docs: Seq[Path] = {
    val scripts = Files.list(Paths.get("tools"))
    try scripts.iterator.asScala.filter(_.toString.endsWith(".sh")).toSeq.sorted
    finally scripts.close()
  } ++ Seq(Paths.get("README.md"), Paths.get(".claude/skills/verify/SKILL.md"))

  /** Every `runMain <class>` target and every `graft.tools.<Name>`. */
  private val Named = """runMain\s+([\w.]+)|\b(graft\.tools\.\w+)""".r

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
}
