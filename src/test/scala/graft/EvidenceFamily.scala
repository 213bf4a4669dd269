package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.scalatest.{Args, Canceled, Outcome, Status, TestSuite, TestSuiteMixin}
import org.scalatest.events.{InfoProvided, NameInfo}

/** Mixed into the specs whose evidence is reference data that may be
  * absent: their tests `assume` the data and cancel without it. When such
  * a suite finishes it reports one line — how many of its tests ran, how
  * many canceled, and each distinct cancel reason — so skipped evidence
  * shows in every test log instead of passing for green. */
trait EvidenceFamily extends TestSuiteMixin { this: TestSuite =>

  /** The evidence this suite's tests provide, as the report names it. */
  def evidence: String

  /** Cancels the running test unless every path exists, naming the first
    * one missing, so the suite's report says what to install. */
  protected def assumeData(paths: String*): Unit =
    paths.find(p => !new java.io.File(p).exists())
      .foreach(p => cancel(s"reference data not found: $p"))

  private val ran = new AtomicInteger
  private val canceled = new ConcurrentLinkedQueue[String]

  abstract override def withFixture(test: NoArgTest): Outcome = {
    val outcome = super.withFixture(test)
    outcome match {
      case Canceled(e) => canceled.add(e.getMessage)
      case _ => ran.incrementAndGet()
    }
    outcome
  }

  abstract override def run(testName: Option[String], args: Args): Status = {
    val status = super.run(testName, args)
    status.waitUntilCompleted()
    val reasons = canceled.asScala.toSeq.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (why, n) => s"${n.size}× $why" }
    args.reporter(InfoProvided(args.tracker.nextOrdinal(),
      s"evidence $evidence: ${ran.get} ran, ${canceled.size} canceled" +
        reasons.mkString(if (reasons.isEmpty) "" else " — ", "; ", ""),
      Some(NameInfo(suiteName, suiteId, Some(getClass.getName), None))))
    status
  }
}
