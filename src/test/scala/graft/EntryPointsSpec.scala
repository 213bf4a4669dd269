package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every runnable `main` under src/main/scala and every environment
  * variable the program reads is documented in README's entry points:
  * one-off probe mains and probe knobs cannot accumulate unnoticed. */
class EntryPointsSpec extends AnyFunSuite {

  private val MainDef = "def main(args: Array[String])"

  private def mainSources(): Seq[(java.nio.file.Path, String)] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => f -> Files.readString(f))

  /** README's "Entry points:" paragraph, joined onto one line. */
  private def entryPoints(): String = {
    val readme = Files.readAllLines(Paths.get("README.md")).asScala
    val p = readme.dropWhile(!_.startsWith("Entry points:"))
      .takeWhile(_.trim.nonEmpty).mkString(" ")
    assert(p.nonEmpty, "README has no \"Entry points:\" paragraph")
    p
  }

  /** Fully qualified names of the objects that define [[MainDef]]. */
  private def mainObjects(): Seq[String] =
    mainSources().flatMap { case (f, src) =>
      val pkg = "(?m)^package\\s+([\\w.]+)".r.findFirstMatchIn(src)
        .map(_.group(1) + ".").getOrElse("")
      // declarations only: a line that opens with the (modified) keyword
      val objects = "(?m)^\\s*(?:(?:private|final|case)\\s+)*object\\s+(\\w+)"
        .r.findAllMatchIn(src).toSeq
      "def main\\(args: Array\\[String\\]\\)".r.findAllMatchIn(src).map { m =>
        // the innermost object opened before the main is its owner
        val owner = objects.filter(_.start < m.start).lastOption
          .getOrElse(fail(s"$f: $MainDef outside an object"))
        pkg + owner.group(1)
      }
    }.distinct.sorted

  test("every main under src/main/scala is named in README's entry points") {
    val documented = entryPoints()
    val mains = mainObjects()
    assert(mains.contains("graft.app.Main"), s"main scan found only $mains")
    val missing = mains.filterNot(m => documented.contains(s"`$m`"))
    assert(missing.isEmpty,
      s"mains not named in README's entry points: ${missing.mkString(", ")}")
  }

  test("every env var src/main/scala reads is named in README's entry points") {
    val documented = entryPoints()
    val EnvRead = ("(?:sys\\.env(?:\\.get|\\.getOrElse|\\.contains|\\.apply)?" +
      "|System\\.getenv)\\(\\s*\"(\\w+)\"").r
    val vars = mainSources().flatMap { case (_, src) =>
      EnvRead.findAllMatchIn(src).map(_.group(1))
    }.distinct.sorted
    assert(vars.contains("SPARK_GRAFT_CPUS"), s"env scan found only $vars")
    val missing = vars.filterNot(v => documented.contains(s"`$v`"))
    assert(missing.isEmpty,
      s"env vars not named in README's entry points: ${missing.mkString(", ")}")
  }
}
