package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every file the pipeline, ops and streaming layers write or read on the
  * driver goes through the Hadoop `FileSystem` API (one temp + rename
  * writer, `graft.pipeline.ManifestRecord`), so their resumable writers
  * work on any Hadoop filesystem, not only a driver-local directory. */
class DriverFilesSpec extends AnyFunSuite {

  test("no java.nio.file use under the pipeline, ops and streaming sources") {
    val sources = Seq("pipeline", "ops", "streaming").flatMap { layer =>
      Files.walk(Paths.get(s"src/main/scala/graft/$layer")).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }
    assert(sources.exists(_.endsWith("CleaningPipeline.scala")),
      s"source scan found only $sources")
    val offenders = sources.filter(f => Files.readString(f).contains("java.nio.file"))
    assert(offenders.isEmpty, s"java.nio.file used in ${offenders.mkString(", ")}")
  }
}
