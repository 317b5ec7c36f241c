package perfbench

import scala.collection.mutable.ArrayBuffer

/** Spans recorded by the benchmark around its calls into each layer.
  * They stay in memory and are written as one JSON file at the end.
  * When disabled, `span` only runs its body. */
final class Trace(val runId: String, val enabled: Boolean) {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private val epoch = System.nanoTime()

  /** Runs `body` inside a span named `name` under `parent` (0 = root);
    * `body` receives the span's id to parent its own spans. */
  def span[A](name: String, parent: Int = 0)(body: Int => A): A =
    if (!enabled) body(0)
    else {
      val id = spans.size + 1
      spans += Span(id, name, parent, System.nanoTime() - epoch, -1L)
      try body(id)
      finally spans(id - 1) = spans(id - 1).copy(endNs = System.nanoTime() - epoch)
    }

  def size: Int = spans.size

  /** The trace as JSON: every span, and the `summary` figures. */
  def toJson(summary: Seq[(String, Double)]): String = {
    val ss = spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""run_id":${Json.str(runId)}}"""
    }
    val sum = summary.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
    s"""{"run_id":${Json.str(runId)},"summary":{${sum.mkString(",")}},""" +
      s""""spans":[${ss.mkString(",\n")}]}"""
  }
}

object Trace {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
      endNs: Long)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A finite number with all its digits; whole numbers without a
    * fraction. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"not a finite number: $v")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  }
}
