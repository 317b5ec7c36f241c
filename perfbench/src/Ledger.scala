package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Failure accounting for every call the benchmark makes into the
  * engine. A call that throws, or whose output fails its check, is
  * recorded as failed and never yields a timing. */
final class Ledger {
  import Ledger.Record

  private val records = ArrayBuffer.empty[Record]

  def attempted: Int = records.size
  def failed: Int = records.count(_.status != "ok")
  def failures: Seq[Record] = records.filter(_.status != "ok").toSeq

  /** Times `body` alone, then runs `check` on its result. `check`
    * returns the reason the output is wrong, or None. Returns the
    * seconds and the result only when both succeed. */
  def call[A](name: String)(body: => A)(check: A => Option[String])
      : Option[(Double, A)] = {
    val t0 = System.nanoTime()
    val ran = try Right(body) catch { case NonFatal(e) => Left(describe(e)) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val outcome = ran.flatMap { a =>
      val problem =
        try check(a) catch { case NonFatal(e) => Some(describe(e)) }
      problem.toLeft(a)
    }
    outcome match {
      case Right(a) =>
        records += Record(name, "ok", "", seconds)
        Some((seconds, a))
      case Left(error) =>
        records += Record(name, "failed", error, seconds)
        System.err.println(s"[perfbench] call $name failed: $error")
        None
    }
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
}

object Ledger {
  final case class Record(name: String, status: String, error: String,
      seconds: Double)

  /** Feeds the ledger one good call, one call that throws and one whose
    * check fails; both bad calls must count as failed and yield no
    * timing. Returns the problems found (empty = pass). */
  def selfTest(): Seq[String] = {
    val l = new Ledger
    val ok = l.call("ok")(1)(_ => None)
    val thrown = l.call("throws")(sys.error("deliberate"): Int)(_ => None)
    val wrong = l.call("wrong")(2)(v => Some(s"got $v, want 3"))
    Seq(
      if (ok.isEmpty) Some("a good call yielded no timing") else None,
      if (thrown.nonEmpty) Some("a throwing call yielded a timing") else None,
      if (wrong.nonEmpty) Some("a call failing its check yielded a timing")
      else None,
      if (l.attempted != 3) Some(s"attempted=${l.attempted}, want 3") else None,
      if (l.failed != 2) Some(s"failed=${l.failed}, want 2") else None,
    ).flatten
  }
}
