package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Output checks of one op. A `planted` check name stands for a wrong
  * expectation the program cannot meet: that check always fails. The
  * negative test uses it to show a failed check surfaces as a failed
  * op, never as a timing. */
final class Check(planted: Set[String]) {
  val problems = mutable.ArrayBuffer[String]()

  def eq[A](name: String, actual: A, expected: A): Unit =
    if (planted(name)) problems += s"$name: got $actual, expected a planted wrong value"
    else if (actual != expected) problems += s"$name: got $actual, expected $expected"

  def holds(name: String, ok: Boolean, detail: => String): Unit =
    if (planted(name) || !ok) problems += s"$name: $detail"
}

/** Ops attempted and failed, and metric samples. */
final class Ledger(planted: Set[String]) {
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def add(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer()) += v

  /** Run one op: `body` times its engine calls, then checks their
    * outputs outside the timed regions. Returns whether every check
    * passed and nothing threw; otherwise the op counts as failed. */
  def op(name: String)(body: Check => Unit): Boolean = {
    attempted += 1
    val c = new Check(planted)
    try body(c)
    catch { case NonFatal(e) =>
      c.problems += s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    if (c.problems.nonEmpty) {
      failed += 1
      failures ++= c.problems.map(p => s"$name: $p")
    }
    c.problems.isEmpty
  }

  def median(metric: String): Option[Double] =
    samples.get(metric).filter(_.nonEmpty).map(Ledger.median)
}

object Ledger {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
