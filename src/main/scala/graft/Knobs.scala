package graft

import org.apache.spark.sql.SparkSession

/** The one integer parse behind the engine's ad hoc knob reads (JVM
  * properties, env vars, session conf). A malformed value fails with an
  * `IllegalArgumentException` that names the key, at the read, instead of
  * a bare `NumberFormatException` somewhere inside a query. Surrounding
  * whitespace is ignored; every value that parsed before parses the same. */
object Knobs {
  def int(key: String, raw: String): Int =
    raw.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"$key must be an integer, got '$raw'"))

  def long(key: String, raw: String): Long =
    raw.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"$key must be an integer, got '$raw'"))

  /** JVM property `key`, `default` when unset. */
  def propInt(key: String, default: Int): Int =
    sys.props.get(key).fold(default)(int(key, _))

  /** Environment variable `key`, `default` when unset. */
  def envInt(key: String, default: Int): Int =
    sys.env.get(key).fold(default)(int(key, _))

  /** Session conf `key` of the active session, then the same-named JVM
    * property (for sessionless callers), then `default`. */
  def confOrPropInt(key: String, default: Int): Int =
    SparkSession.getActiveSession
      .flatMap(s => Option(s.conf.get(key, null)))
      .orElse(sys.props.get(key))
      .fold(default)(int(key, _))
}
