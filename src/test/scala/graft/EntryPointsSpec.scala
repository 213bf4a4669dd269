package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every runnable `main` under src/main/scala is a documented entry point:
  * one-off probe mains cannot accumulate unnoticed. */
class EntryPointsSpec extends AnyFunSuite {

  private val MainDef = "def main(args: Array[String])"

  /** Fully qualified names of the objects that define [[MainDef]]. */
  private def mainObjects(): Seq[String] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f =>
      val src = Files.readString(f)
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
  }

  test("every main under src/main/scala is named in README's entry points") {
    val readme = Files.readAllLines(Paths.get("README.md")).asScala
    val entryPoints = readme.dropWhile(!_.startsWith("Entry points:"))
      .takeWhile(_.trim.nonEmpty).mkString(" ")
    assert(entryPoints.nonEmpty, "README has no \"Entry points:\" paragraph")
    val mains = mainObjects()
    assert(mains.contains("graft.app.Main"), s"main scan found only $mains")
    val missing = mains.filterNot(m => entryPoints.contains(s"`$m`"))
    assert(missing.isEmpty,
      s"mains not named in README's entry points: ${missing.mkString(", ")}")
  }
}
