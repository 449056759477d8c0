package graft.util

/** Parse-or-fail reads of graft's numeric settings (system properties
  * and environment variables). */
object Settings {

  /** `value`, the raw setting named `key`, parsed by `parse`; `default`
    * when unset. A set value that does not parse throws an
    * `IllegalArgumentException` naming the key and the value, so a typo
    * never runs silently with the default. */
  def parsed[T](key: String, value: Option[String], default: T, expected: String)(
      parse: String => Option[T]): T =
    value.fold(default) { v =>
      parse(v.trim).getOrElse(
        throw new IllegalArgumentException(s"$key must be $expected; got '$v'"))
    }

  def int(key: String, value: Option[String], default: Int): Int =
    parsed(key, value, default, "an integer")(_.toIntOption)
}
