package graft.io

import org.json4s._

/** Number extraction shared by the settings and state parsers. json4s
  * parses an integer literal as `JInt` and a fraction as `JDouble`;
  * values built in code may also be `JLong` or `JDecimal`. */
object Json {
  def num(j: JValue): Option[Double] = j match {
    case JInt(x)     => Some(x.toDouble)
    case JLong(x)    => Some(x.toDouble)
    case JDouble(x)  => Some(x)
    case JDecimal(x) => Some(x.toDouble)
    case _           => None
  }

  /** An integral value, exactly (no round trip through Double). */
  def long(j: JValue): Option[Long] = j match {
    case JInt(x)  => Some(x.toLong)
    case JLong(x) => Some(x)
    case _        => None
  }
}
