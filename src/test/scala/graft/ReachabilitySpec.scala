package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every public `def` under src/main/scala is called from somewhere: a
  * main, a query, perfbench or a spec. A def whose name appears on no
  * non-comment line of the main, test or perfbench sources (apart from
  * its own definition) is dead code and fails here, unless it is on
  * [[Exceptions]] with its reason. */
class ReachabilitySpec extends AnyFunSuite {

  /** Defs that are reachable although no source line names them, keyed
    * `<file name>.<def name>`, with the reason. */
  private val Exceptions: Map[String, String] = Map(
    "SpanEval.finish" -> "Aggregator member Spark calls",
    "SpanEval.bufferEncoder" -> "Aggregator member Spark calls",
    "SpanEval.outputEncoder" -> "Aggregator member Spark calls")

  private def sources(dir: String): Seq[(java.nio.file.Path, Seq[String])] =
    if (!Files.isDirectory(Paths.get(dir))) Nil
    else Files.walk(Paths.get(dir)).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map(f => f -> Files.readAllLines(f).asScala.toSeq)

  private def isComment(line: String): Boolean = {
    val t = line.trim
    t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
  }

  /** A def line with its modifiers; `override`, `private` and
    * `protected` (scoped or not) make a def exempt. */
  private val DefLine =
    ("^\\s*((?:(?:override|private(?:\\[\\w+\\])?|protected(?:\\[\\w+\\])?" +
      "|final|implicit|inline)\\s+)*)def\\s+([A-Za-z_]\\w*)").r

  test("every public def under src/main/scala is referenced outside its definition") {
    val main = sources("src/main/scala")
    val all = main ++ sources("src/test/scala") ++ sources("perfbench/src")
    val defs = for {
      (f, lines) <- main
      (line, i) <- lines.zipWithIndex if !isComment(line)
      m <- DefLine.findFirstMatchIn(line).toSeq
      mods = m.group(1)
      if !mods.contains("override") && !mods.contains("private") &&
        !mods.contains("protected")
    } yield (m.group(2), f.getFileName.toString.stripSuffix(".scala"), f, i)
    assert(defs.exists(_._1 == "runResumable"), s"def scan found only $defs")
    // lines naming each identifier, counted once per line
    val Ident = "[A-Za-z_]\\w*".r
    val linesNaming = all.flatMap { case (_, lines) =>
      lines.filterNot(isComment).flatMap(Ident.findAllIn(_).toSet)
    }.groupMapReduce(identity)(_ => 1)(_ + _)
    // the def's own line is one of them
    val unreferenced = defs.collect {
      case (name, owner, f, i) if !Exceptions.contains(s"$owner.$name") &&
          linesNaming.getOrElse(name, 0) <= 1 => s"$name ($f:${i + 1})"
    }
    assert(unreferenced.isEmpty,
      s"public defs nothing references: ${unreferenced.mkString(", ")}")
  }
}
