package perfbench

import scala.collection.mutable

/** Tally of output checks and failed operations: every check is an
  * attempted operation, and a wrong answer or an operation that threw is a
  * failed one. Only wrong answers make a run incorrect. */
final class Checks {
  private var n = 0L
  val wrong = mutable.ArrayBuffer.empty[String]
  val errors = mutable.ArrayBuffer.empty[String]

  def apply(op: String, ok: Boolean, detail: => String): Unit = synchronized {
    n += 1
    if (!ok) wrong += s"$op: $detail"
  }

  def error(op: String, e: Throwable): Unit = synchronized { errors += s"$op: $e" }

  def attempted: Long = synchronized(n)
  def failed: Long = synchronized((wrong.size + errors.size).toLong)
  def correct: Boolean = synchronized(wrong.isEmpty)
}
