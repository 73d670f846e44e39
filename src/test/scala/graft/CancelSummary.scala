package graft

import org.scalatest.Reporter
import org.scalatest.events.{Event, RunAborted, RunCompleted, RunStopped, TestCanceled}

/** Ends a test run with one line counting the cancelled tests, grouped
  * by cancel message and largest group first, e.g.
  * `[cancelled] 71: 45 reference workload dir not present; 3 ...`.
  * The counts come from ScalaTest's own TestCanceled events (the JUnit
  * XML reports a cancelled test as passed in 0 s). Registered in
  * build.sbt with `-C graft.CancelSummary`.
  */
class CancelSummary extends Reporter {
  private val byReason = scala.collection.mutable.Map.empty[String, Int]

  def apply(event: Event): Unit = synchronized {
    event match {
      case c: TestCanceled =>
        val reason = c.message.linesIterator.nextOption().getOrElse("")
        byReason(reason) = byReason.getOrElse(reason, 0) + 1
      case _: RunCompleted | _: RunStopped | _: RunAborted =>
        val groups = byReason.toSeq.sortBy { case (r, n) => (-n, r) }
          .map { case (r, n) => s"$n $r" }
        println(s"[cancelled] ${byReason.values.sum}" +
          (if (groups.isEmpty) "" else groups.mkString(": ", "; ", "")))
      case _ =>
    }
  }
}
