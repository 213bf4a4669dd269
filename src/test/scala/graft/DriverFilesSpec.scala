package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every file the pipeline, ops and streaming layers write or read on the
  * driver goes through the Hadoop `FileSystem` API (one temp + rename
  * writer, `graft.pipeline.ManifestRecord`), so their resumable writers
  * work on any Hadoop filesystem, not only a driver-local directory; and
  * every `FileSystem`, Hadoop configuration and `DataFrameWriter` they use
  * comes from `graft.io.WriteFs`, so no writer falls back to the local
  * filesystem that forks a `chmod` per file. */
class DriverFilesSpec extends AnyFunSuite {

  private lazy val sources = Seq("pipeline", "ops", "streaming").flatMap { layer =>
    Files.walk(Paths.get(s"src/main/scala/graft/$layer")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  test("no java.nio.file use under the pipeline, ops and streaming sources") {
    assert(sources.exists(_.endsWith("CleaningPipeline.scala")),
      s"source scan found only $sources")
    val offenders = sources.filter(f => Files.readString(f).contains("java.nio.file"))
    assert(offenders.isEmpty, s"java.nio.file used in ${offenders.mkString(", ")}")
  }

  test("writers resolve filesystems and DataFrameWriters only through graft.io.WriteFs") {
    // a `FileSystem` lookup, the session's own Hadoop configuration, or a
    // `Dataset.write` (not `.write(` on a stream, not `.writeStream`)
    val banned = Seq(
      "getFileSystem\\(", "FileSystem\\.(get|newInstance)\\w*\\(",
      "FileContext\\.", "hadoopConfiguration", "\\.write(?![\\w(])",
      "\\.writeTo\\(").map(_.r)
    val offenders = sources.flatMap { f =>
      // comments, scaladoc and messages may name the APIs they describe
      val code = "(?s)/\\*.*?\\*/".r.replaceAllIn(Files.readString(f),
          m => "\n" * m.matched.count(_ == '\n'))
        .replaceAll("\"([^\"\\\\\n]|\\\\.)*\"", "\"\"")
        .replaceAll("//[^\n]*", "")
      code.linesIterator.zipWithIndex.collect {
        case (line, i) if banned.exists(_.findFirstIn(line).isDefined) =>
          s"${f.getFileName}:${i + 1}: ${line.trim}"
      }
    }
    assert(sources.exists(_.endsWith("KgPipeline.scala")),
      s"source scan found only $sources")
    assert(offenders.isEmpty,
      s"resolve these through graft.io.WriteFs:\n${offenders.mkString("\n")}")
  }
}
