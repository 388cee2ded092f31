package graft.qbench

import scala.collection.mutable

/** What one run prints: metrics with units, a free-form detail section, and
  * the count of operations attempted and failed. A failed check is printed
  * to stderr the moment it happens and counted; it never vanishes from the
  * totals.
  */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Count one operation; `ok = false` counts it as failed. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) fail(what)
    ok
  }

  /** Count a failure of an operation already counted as attempted. */
  def fail(what: String): Unit = {
    failed += 1
    failures += what
    System.err.println(s"[qbench] FAILED: $what")
  }

  def resultLine: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      Json.str(k) + ":{\"value\":" + Json.num(v) + ",\"unit\":" + Json.str(u) + "}"
    }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":$ms}"""
  }
}

/** Minimal JSON rendering for the result and detail lines. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def render(v: Any): String = v match {
    case null                 => "null"
    case s: String            => str(s)
    case b: Boolean           => b.toString
    case i: Int               => i.toString
    case l: Long              => l.toString
    case d: Double            => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(render).mkString("[", ",", "]")
    case other                => str(other.toString)
  }
}
